package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Round4

/** The ONE definition of the helpers every query module shares. The
  * DuckDB-oracle parity scheme depends on these being identical across
  * modules (e.g. the epsilon bias in [[r4]] must match the `1e-9` the
  * oracle SQL adds before rounding) — they used to be copy-pasted per
  * file, which is exactly how one copy drifts. Local `r4`/`t`/`events`
  * defs in the query files are thin aliases of these.
  */
private[graft] object QueryUtil {

  /** Every scratch root this JVM has handed out. The one shutdown hook
    * removes all of them, so a JVM that opens several sessions (several
    * applicationIds) leaks none of the per-application trees. */
  private[graft] val scratchRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val scratchCleanup: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchRoots.forEach(r => org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(r)): Unit)))

  /** This application's scratch tree for one family of staged files
    * (`name`: stream, roundtrip, blobs): `/tmp/graft_<name>/<appId>`,
    * removed at JVM exit. Keyed by applicationId so two concurrent runs
    * over the same fixture never share scratch; cleanup cannot happen
    * inside a query, because the returned DataFrame reads the scratch
    * lazily after the query function has returned. */
  def scratchRoot(s: SparkSession, name: String): String = {
    val root = s"/tmp/graft_$name/${s.sparkContext.applicationId}"
    scratchRoots.add(root)
    scratchCleanup
    root
  }

  /** Parquet table loader (driver testdata layout: `<dir>/<name>.parquet`). */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The NAMED side-effect contract every events reader depends on
    * (ADVICE round-6: it used to be incidental inside [[events]]):
    *   - `nanosAsLong` lets Spark 4 read the TIMESTAMP(NANOS) fixture
    *     vintage at all (as epoch-nanos BIGINT);
    *   - session tz UTC makes the NTZ→LTZ cast in [[normalizeTs]]
    *     interpret wall-clocks exactly like DuckDB's tz-naive read.
    * Call sites: [[events]] and the streaming reader
    * (TimeSeriesQueries.eventsStream) BEFORE analysis of any plan over
    * events. Both confs are runtime-settable and idempotent. NOTE:
    * session tz is session-GLOBAL — the harness standardizes on UTC
    * for every tz-sensitive query (the fixtures carry no local-time
    * semantics), so pinning it here is the invariant, not a hazard. */
  def pinEventConfs(s: SparkSession): Unit = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** Raw events.parquet read. The fixture's `ts` physical type has
    * changed across driver vintages — TIMESTAMP(NANOS) originally (which
    * Spark 4 only reads with the nanosAsLong legacy flag), TIMESTAMP
    * (MICROS)/NTZ since the 2026-08-13 regeneration. Use [[events]]
    * unless you need the on-disk schema (streaming file sources must
    * declare the RAW schema, then [[normalizeTs]] the stream). */
  def rawEvents(s: SparkSession, dir: String): DataFrame = {
    pinEventConfs(s)
    s.read.parquet(s"$dir/events.parquet")
  }

  /** Canonicalize `ts` to epoch-NANOS BIGINT — the contract every query
    * in the repo (and the `epoch_ns(ts)` arithmetic mirrored in the
    * DuckDB oracle SQL) is written against — regardless of fixture
    * vintage. The NTZ→LTZ cast interprets the wall-clock in the session
    * time zone; callers ([[events]]) pin it to UTC first, matching
    * DuckDB's tz-naive TIMESTAMP reading of the same file. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    // LongType only appears via nanosAsLong on the TIMESTAMP(NANOS)
    // vintage, so the long IS epoch-nanos. A future regeneration writing
    // plain INT64 micros/millis would be silently misread — fail loudly
    // on anything that is neither that long nor a timestamp type
    // (EventsVintageSpec covers both accepted vintages).
    case org.apache.spark.sql.types.LongType => df // nanos fixture vintage
    case _: org.apache.spark.sql.types.TimestampType
       | _: org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts",
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
          * lit(1000L))
    case other => throw new IllegalStateException(
      s"unexpected events.ts fixture vintage: $other — normalizeTs " +
        "understands TIMESTAMP(NANOS)-as-long and TIMESTAMP(NTZ/LTZ) " +
        "micros; audit the new fixture before widening this match")
  }

  /** events table with `ts` as epoch-nanos BIGINT (see [[normalizeTs]];
    * confs via [[pinEventConfs]] inside [[rawEvents]]). */
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeTs(rawEvents(s, dir))

  /** Epsilon-biased 4-decimal rounding: plain round(4) diverges between
    * Spark and DuckDB on exact-halfway floats; both sides add 1e-9 first
    * (oracle SQL: `round(1e-9 + x, 4)`). The trailing `+ 0.0` is the
    * NEGATIVE-ZERO normalization (r07 verdict item 1): DuckDB rounds
    * doubles by scaled floating multiply, which preserves the sign bit —
    * `round(1e-9 + (-3e-5), 4)` = -0.0 — while Spark's Round (BigDecimal
    * HALF_UP) yields +0.0; the driver hashes raw bits, so the two zeros
    * fail the gate. IEEE `-0.0 + 0.0 = +0.0` (and `x + 0.0 = x` for every
    * other double, NULL stays NULL), so adding 0.0 AFTER rounding on BOTH
    * sides ([[negZeroSafeOracle]] rewrites the oracle template) erases the
    * sign-of-zero dimension for every r4'd column at once. The rounding
    * itself is [[Round4]]: Spark's `round(x, 4)` bit for bit, without
    * its per-row BigDecimal. */
  def r4(c: Column): Column = Round4.of(c + lit(1e-9)) + lit(0.0)

  /** Rewrite every `round(1e-9 …, 4)` template occurrence in an oracle SQL
    * string to `(round(1e-9 …, 4) + 0.0)` — the DuckDB side of the
    * negative-zero normalization in [[r4]], applied centrally in
    * `SparkEntry.oracleSql` so no individual key (current or future) can
    * forget it. Balanced-paren scan, not regex: the rounded expression
    * routinely nests parens (`round(1e-9 + (a - b) / c, 4)`). Only the
    * `round(1e-9` spelling is touched — bare `round(x * 100)` cents
    * conversions are integer-valued and must stay untouched. The 1e-9 bias
    * guarantees the operand is DOUBLE-typed (decimal + double promotes),
    * so `+ 0.0` never changes the column type. */
  def negZeroSafeOracle(sql: String): String = {
    val marker = "round(1e-9"
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val at = sql.indexOf(marker, i)
      if (at < 0) { sb.append(sql.substring(i)); i = sql.length }
      else {
        sb.append(sql.substring(i, at)).append('(')
        // balanced scan from round's '(' to its matching ')'
        var j = at + "round".length
        var depth = 0
        var done = false
        while (!done) {
          sql.charAt(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) done = true
            case _ =>
          }
          j += 1
        }
        sb.append(sql.substring(at, j)).append(" + 0.0)")
        i = j
      }
    }
    sb.toString
  }
}
