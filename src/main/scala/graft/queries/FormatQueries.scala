package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink breadth (SURVEY.md §2.4 "Scans / sources / sinks" row).
  * The reference delegates ALL I/O to its host (in-memory data.frames or
  * a DB connection someone else opened); the Spark engine inherits the
  * full DataSource V2 surface. Each query here proves one format
  * end-to-end — write the fixture table out through the sink, read it
  * back through the source, aggregate — and is oracle-gated against
  * DuckDB reading the ORIGINAL parquet, so any loss in the round trip
  * (type mangling, quoting, null handling, partition pruning) fails the
  * hash gate, not just a smoke check.
  *
  *   - csv: header + quoting, schema-on-read (no inference pass — a 100
  *     TB read must never pay a schema-sniffing scan);
  *   - json: JSON Lines, schema-on-read for the same reason;
  *   - orc: the second columnar format (predicate pushdown like parquet);
  *   - partitioned parquet: directory-partitioned sink; the read-back
  *     filter prunes to matching partitions (PartitionFilters in the
  *     scan, verified in PlanSpec).
  *
  * Round-trip scratch space is keyed by (session applicationId, sf-dir
  * basename): the sf key keeps warmup (sf0.001) and the timed/gated run
  * apart, the appId keeps two CONCURRENT harness runs over the same
  * fixture from overwriting each other's scratch mid-read
  * ([[QueryUtil.scratchRoot]] owns the root and its cleanup).
  */
object FormatQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueryUtil.t(s, dir, name)

  private def r4(c: Column): Column = QueryUtil.r4(c)

  private def scratch(s: SparkSession, dir: String, fmt: String): String =
    s"${QueryUtil.scratchRoot(s, "roundtrip")}/" +
      s"${new java.io.File(dir).getName}/$fmt"

  /** The shared post-read aggregation: nation-keyed supplier rollup.
    * Identical for every flat format, so the only variable is the
    * round trip itself. */
  private def supplierAgg(df: DataFrame): DataFrame =
    df.groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        // decimal-exact sum (round-7 fragility audit): grouped float
        // sums combine in nondeterministic order; acctbal is cent-exact
        r4(sum(col("s_acctbal").cast("decimal(9,2)")).cast("double"))
          .as("bal"))

  private val supplierAggSql =
    """SELECT s_nationkey, count(*) AS n,
       round(1e-9 + CAST(sum(CAST(s_acctbal AS DECIMAL(9,2))) AS DOUBLE), 4)
         AS bal
       FROM supplier GROUP BY 1"""

  /** Post-compaction aggregation (same role as [[supplierAgg]] for the
    * lineitem-based compaction round trip). */
  private def supplierStyleLineitemAgg(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), r4(sum(col("l_quantity"))).as("qty"))

  /** join_dpp_prune's inner frame (scratch partitioned fact + filtered
    * file-based dim + join/agg), shared by the gate key and the
    * plan-fingerprint ledger (round-12 verdict item 6): the pinned
    * shape carries the dynamicpruning subquery on the fact scan. */
  def dppFrame(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(s, dir, "orders_dpp")
    t(s, dir, "orders").write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(path)
    val fact = s.read.parquet(path)
    import s.implicits._
    // dim carries the selective filter; only status F survives.
    // TWO planner preconditions earned the hard way: the predicate
    // must be a comparison shape (Catalyst's isLikelySelective takes
    // EqualTo/In/Like, not a bare boolean attribute), and the dim
    // must be FILE-based — ConvertToLocalRelation folds a Filter over
    // a LocalRelation away before the PartitionPruning optimizer
    // batch ever sees it
    val dimPath = scratch(s, dir, "dpp_dim")
    Seq(("F", "pick"), ("O", "skip"), ("P", "skip"))
      .toDF("st", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = s.read.parquet(dimPath).filter(col("tag") === "pick")
    fact.join(dim, col("o_orderstatus") === col("st"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        r4(sum(col("o_totalprice").cast("decimal(11,2)")).cast("double"))
          .as("total"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_csv_roundtrip" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val path = scratch(s, dir, "supplier_csv")
      sup.write.mode("overwrite").option("header", "true").csv(path)
      supplierAgg(s.read.schema(sup.schema)
        .option("header", "true").csv(path))
    }),
    "source_text_lines" -> ((s, dir) => {
      // LINE-ORIENTED text source round-trip — the rawest lake format
      // (one record per line, schema applied at read): documents
      // export as "doc_id<TAB>text" lines via the text sink, read back
      // with spark.read.text, parsed by first-tab split. The corpus is
      // tab/newline-free ASCII (verified), so the framing is lossless;
      // a production pipeline would escape or length-prefix. Output is
      // a per-doc digest (id, byte length, token count) proving the
      // parse, not the write.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val path = scratch(s, dir, "documents_txt")
      d.select(concat(col("doc_id").cast("string"), lit("\t"),
          col("text")).as("value"))
        .write.mode("overwrite").text(path)
      val back = s.read.text(path).select(
        substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        expr("substring(value, instr(value, '\t') + 1)").as("text"))
      back.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
          .as("n_toks"))
    }),
    "source_json_corrupt" -> ((s, dir) => {
      // PERMISSIVE JSON ingest with corrupt-record capture — the lake
      // reality at 100 TB: some fraction of JSONL lines are truncated
      // or mangled, and the pipeline must quarantine them WITHOUT
      // failing the scan or silently dropping rows. Every 5th doc's
      // line is PLANTED truncated (the dedup_url convention); the read
      // uses mode=PERMISSIVE + columnNameOfCorruptRecord, so corrupt
      // rows surface with null fields and the raw line captured. The
      // quarantine id is RECOVERED from the corrupt text by regex —
      // the triage a real ingest does before replay. Scan-shaped: one
      // pass, schema applied at read, row-local parse + regex; the
      // gate proves no line was lost or misclassified (every doc_id
      // surfaces exactly once with the right is_corrupt flag).
      val d = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("n"))
      val path = scratch(s, dir, "documents_jsonl")
      val line = when(pmod(col("doc_id"), lit(5)) === 4,
          concat(lit("{\"doc_id\": "), col("doc_id").cast("string"),
            lit(", \"n\": ")))                  // truncated mid-object
        .otherwise(concat(lit("{\"doc_id\": "),
          col("doc_id").cast("string"),
          lit(", \"n\": "), col("n").cast("string"), lit("}")))
      d.select(line.as("value")).write.mode("overwrite").text(path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_corrupt",
          org.apache.spark.sql.types.StringType)))
      val back = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
      back.select(
        coalesce(col("doc_id"),
          regexp_extract(col("_corrupt"), "\"doc_id\": (\\d+)", 1)
            .cast("long")).as("doc_id"),
        col("n"),
        col("_corrupt").isNotNull.as("is_corrupt"))
    }),
    "source_json_roundtrip" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val path = scratch(s, dir, "supplier_json")
      sup.write.mode("overwrite").json(path)
      supplierAgg(s.read.schema(sup.schema).json(path))
    }),
    "source_orc_roundtrip" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val path = scratch(s, dir, "supplier_orc")
      sup.write.mode("overwrite").orc(path)
      supplierAgg(s.read.orc(path))
    }),
    "source_merge_schema" -> ((s, dir) => {
      // SCHEMA EVOLUTION read: two parquet batches written with
      // different schemas (the second adds a column — the lake reality
      // when an upstream producer evolves), read back in ONE scan with
      // mergeSchema — old-batch rows surface the new column as NULL.
      // mergeSchema pays a footer-union planning pass, not a data scan,
      // so it's viable at 100 TB (production would pin the merged
      // schema in a catalog after the first read). Gate: the unioned
      // read equals the SQL UNION with explicit NULLs.
      val path = scratch(s, dir, "supplier_evolved")
      val done = new java.io.File(path, "_STAGED")
      val sup = t(s, dir, "supplier")
      if (!done.isFile) {
        sup.filter(col("s_suppkey") % 2 === 0)
          .select(col("s_suppkey"), col("s_nationkey"))
          .write.mode("overwrite").parquet(s"$path/batch=1")
        sup.filter(col("s_suppkey") % 2 =!= 0)
          .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
          .write.mode("overwrite").parquet(s"$path/batch=2")
        done.createNewFile(): Unit
      }
      s.read.option("mergeSchema", "true").parquet(path)
        .select(col("s_suppkey"), col("s_nationkey"),
          r4(col("s_acctbal")).as("s_acctbal"))
    }),
    "sink_upsert_snapshot" -> ((s, dir) => {
      // MERGE-INTO / SCD-1 upsert emulated on plain parquet (no table
      // format in the container): base snapshot ⟕⟖ updates batch →
      // coalesce to the new snapshot — matched keys take the update,
      // unmatched keep the base row, brand-new keys insert. One shuffle
      // join on the key (co-locatable via bucketing at 100 TB —
      // sink_bucketed_join's layout is exactly what a nightly upsert
      // would reuse); the snapshot is written and read back so the gate
      // covers the full write path, not just the join. Updates here:
      // per-customer refreshed balance = base + sum of their order
      // totals (an UPDATE for customers with orders, a no-op for the
      // rest — both MERGE arms exercised; orders' custkeys ⊂ customer's,
      // so the insert arm is structurally present but empty, like most
      // production SCD-1 batches).
      val base = t(s, dir, "customer").select(col("c_custkey"),
        col("c_name"), col("c_acctbal"))
      // spent in exact decimal (round-7 fragility audit), assembled
      // with the base balance in decimal before the one double cast
      val updates = t(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(11,2)")).as("spent"))
        .select(col("o_custkey").as("c_custkey"), col("spent"))
      val merged = base.join(updates, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_name"),
          r4((coalesce(col("c_acctbal").cast("decimal(9,2)"),
              lit(0).cast("decimal(9,2)")) +
            coalesce(col("spent"), lit(0).cast("decimal(11,2)")))
            .cast("double")).as("c_acctbal"))
      val path = scratch(s, dir, "customer_snapshot")
      merged.write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    }),
    "sink_compacted" -> ((s, dir) => {
      // Small-file COMPACTION — the table-maintenance pass a streaming
      // ingest (many tiny per-trigger files) needs before the table is
      // scannable at 100 TB: read the fragmented layout (staged here as
      // a 64-file write of lineitem), rewrite as a handful of
      // sort-clustered files (repartitionByRange on the cluster key →
      // both file-level min/max pruning and a bounded file count; 4
      // target files at fixture scale). The gate reads the COMPACTED
      // table back and aggregates — identical to aggregating the
      // original, proving compaction lost/duplicated nothing; the
      // file-count and clustering assertions live in the plan/layout
      // spec tier (FormatsSpec-style), not the hash.
      val fragmented = scratch(s, dir, "lineitem_fragmented")
      val compacted = scratch(s, dir, "lineitem_compacted")
      val done = new java.io.File(fragmented, "_STAGED")
      val li = t(s, dir, "lineitem")
      if (!done.isFile) {
        li.repartition(64).write.mode("overwrite").parquet(fragmented)
        done.createNewFile(): Unit
      }
      s.read.parquet(fragmented)
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .write.mode("overwrite").parquet(compacted)
      val back = s.read.parquet(compacted)
      supplierStyleLineitemAgg(back)
    }),
    "source_binaryfile" -> ((s, dir) => {
      // Raw-file ingestion through the `binaryFile` source — the entry
      // point of every multimodal pipeline (images/audio arrive as FILES,
      // not rows; operators/Multimodal takes over once they're binary
      // columns). Staging: each document's text is written as its own
      // .bin file BY THE EXECUTORS (foreachPartition — no driver
      // collect; a 100 TB corpus stages the same way). The read-back
      // parses the id from the file path, and the gate decodes the bytes
      // and compares against the ORIGINAL table — any byte mangled in
      // file I/O, path parsing, or the binary column path fails the
      // hash, same contract as the other round trips. The corpus is
      // ASCII by construction, so cast(content AS string) is lossless.
      val path = scratch(s, dir, "docs_bin")
      val done = new java.io.File(path, "_STAGED")
      if (!done.isFile) {
        new java.io.File(path).mkdirs()
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .foreachPartition {
            (rows: Iterator[org.apache.spark.sql.Row]) =>
              rows.foreach { r =>
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(path, s"${r.getLong(0)}.bin"),
                  r.getString(1).getBytes(
                    java.nio.charset.StandardCharsets.UTF_8))
              }
          }
        done.createNewFile(): Unit
      }
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin").load(path)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length"),
          col("content").cast("string").as("content_str"))
    }),
    "sink_bucketed_join" -> ((s, dir) => {
      // Bucketed-table sink consumed by a CO-LOCATED join (was spec-only
      // through round 5 — BucketingSpec; this oracle-gates it). Both
      // sides are written bucketBy(8, custkey).sortBy(custkey) as
      // external tables in scratch, read back through the catalog, and
      // merge-joined: the SortMergeJoin must consume the bucket layout
      // directly — zero exchanges and zero sorts below the join —
      // require()d on the physical plan so a layout regression FAILS the
      // key instead of silently shuffling. The merge hint (not a session
      // conf flip) forces the sort-merge path over a broadcast that
      // would prove nothing; the post-join agg legitimately shuffles.
      // At 100 TB this is the recurring fact-to-fact join shape: pay the
      // bucketed write once, every later join on the key is scan+merge.
      val uniq = new java.io.File(dir).getName.replace('.', '_')
      val to = s"b_orders_$uniq"
      val tc = s"b_customer_$uniq"
      t(s, dir, "orders").write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", scratch(s, dir, "bucket_orders"))
        .mode("overwrite").saveAsTable(to)
      t(s, dir, "customer").write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", scratch(s, dir, "bucket_customer"))
        .mode("overwrite").saveAsTable(tc)
      val join = s.table(to).hint("merge")
        .join(s.table(tc), col("o_custkey") === col("c_custkey"))
      val plan = join.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        s"bucketed join did not plan as a sort-merge join:\n$plan")
      val below = plan.substring(plan.indexOf("SortMergeJoin"))
      require(!below.contains("Exchange hashpartitioning"),
        s"bucketed join still exchanges below the join:\n$plan")
      require(plan.contains("SelectedBucketsCount"),
        s"bucketed scan layout not consumed:\n$plan")
      join.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          r4(sum(col("o_totalprice").cast("decimal(11,2)")).cast("double"))
            .as("total"))
    }),
    "join_dpp_prune" -> ((s, dir) => {
      // DYNAMIC PARTITION PRUNING, plan-feature-gated (the scan-side
      // sibling of join_runtime_bloom / join_aqe_skew): joining a
      // directory-partitioned fact on its partition column against a
      // filtered (broadcastable) dim makes Catalyst plant a
      // dynamicpruning expression in the scan's PartitionFilters — at
      // 100 TB the fact table reads ONLY the partitions the dim selects,
      // decided at runtime from the broadcast result, no static literal
      // required. `require`d on the executed plan; rows equal the
      // statically-filtered oracle.
      val j = dppFrame(s, dir)
      val rows = j.collectAsList()
      val plan = j.queryExecution.executedPlan.toString
      require(plan.contains("dynamicpruning"),
        s"dynamic partition pruning was not planted:\n$plan")
      s.createDataFrame(rows, j.schema)
    }),
    "sink_partitioned_parquet" -> ((s, dir) => {
      // directory-partitioned parquet sink; the read-back filter must
      // prune to the o_orderstatus=F subtree (partition pruning, not a
      // full scan + filter)
      val path = scratch(s, dir, "orders_part")
      t(s, dir, "orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(path)
      s.read.parquet(path)
        .filter(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          r4(sum(col("o_totalprice").cast("decimal(11,2)")).cast("double"))
            .as("total"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "source_csv_roundtrip" -> supplierAggSql,
    // identity digest + the planted corruption rule: a green hash
    // proves the PERMISSIVE read lost no line and misclassified none
    "source_json_corrupt" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 5 = 4 THEN NULL
                ELSE CAST(length(text) AS BIGINT) END AS n,
           doc_id % 5 = 4 AS is_corrupt
         FROM documents""",
    // the identity digest straight off the parquet table: a green hash
    // proves the tab-framed text round-trip lost nothing
    "source_text_lines" ->
      """SELECT doc_id, length(text) AS n_chars,
           CASE WHEN length(trim(regexp_replace(lower(text), '\s+', ' ',
             'g'))) = 0 THEN 0
           ELSE length(string_split(trim(regexp_replace(lower(text),
             '\s+', ' ', 'g')), ' ')) END AS n_toks
         FROM documents""",
    "source_json_roundtrip" -> supplierAggSql,
    "source_orc_roundtrip" -> supplierAggSql,
    "source_binaryfile" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS length,
         text AS content_str FROM documents""",
    "source_merge_schema" ->
      """SELECT s_suppkey, s_nationkey,
           CASE WHEN s_suppkey % 2 = 0 THEN NULL
                ELSE round(1e-9 + s_acctbal, 4) END AS s_acctbal
         FROM supplier""",
    "sink_upsert_snapshot" ->
      """WITH u AS (SELECT o_custkey AS c_custkey,
           sum(CAST(o_totalprice AS DECIMAL(11,2))) AS spent
         FROM orders GROUP BY 1)
         SELECT COALESCE(c.c_custkey, u.c_custkey) AS c_custkey,
           c.c_name,
           round(1e-9 + CAST(COALESCE(CAST(c.c_acctbal AS DECIMAL(9,2)),
               CAST(0 AS DECIMAL(9,2)))
             + COALESCE(u.spent, CAST(0 AS DECIMAL(11,2))) AS DOUBLE), 4)
             AS c_acctbal
         FROM customer c FULL OUTER JOIN u ON c.c_custkey = u.c_custkey""",
    "sink_compacted" ->
      """SELECT l_returnflag, count(*) AS n,
         round(1e-9 + sum(l_quantity), 4) AS qty
         FROM lineitem GROUP BY 1""",
    "sink_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n,
         round(1e-9 + CAST(sum(CAST(o_totalprice AS DECIMAL(11,2)))
           AS DOUBLE), 4) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    "join_dpp_prune" ->
      """SELECT o_orderpriority, count(*) AS n,
         round(1e-9 + CAST(sum(CAST(o_totalprice AS DECIMAL(11,2)))
           AS DOUBLE), 4) AS total
         FROM orders WHERE o_orderstatus = 'F' GROUP BY 1""",
    "sink_partitioned_parquet" ->
      """SELECT o_orderpriority, count(*) AS n,
         round(1e-9 + CAST(sum(CAST(o_totalprice AS DECIMAL(11,2)))
           AS DOUBLE), 4) AS total
         FROM orders WHERE o_orderstatus = 'F' GROUP BY 1"""
  )
}
