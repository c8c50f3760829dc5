package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Multimodal._

/** Multimodal query inventory over `documents.text`-derived payloads
  * (see [[graft.operators.Multimodal]]). `mm_image_meta`/`mm_resize`
  * decode REAL BMP header bytes ([[graft.operators.Multimodal.bmpBlob]]
  * synthesis + [[graft.operators.Multimodal.BmpDecoder]] byte-layout
  * parse through the mapPartitions decode plumbing); the remaining
  * pseudo-decode outputs (features) hash `hex(payload) || tag` and read
  * the first 15 hex digits as a 60-bit long in both engines, so they
  * are bit-identical. Every query has a full DuckDB oracle — for the
  * BMP keys the oracle predicts the dims from the source text (the
  * same md5 math the blob generator embeds), so a green hash gate
  * proves the header writer and parser agree with the public layout.
  */
object MultimodalQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def withPayload(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), payload(col("text")).as("p"))

  /** Stage the BMP blob fixture once per (session, sf-dir): synthesize
    * real header bytes columnar-side ([[graft.operators.Multimodal
    * .bmpBlobCol]] — meta md5s in whole-stage codegen, header write in
    * a constant-work UDF) and land them as a binary parquet column.
    * Both BMP keys read this table, so the measured query is what a
    * production decode stage does: scan stored blobs, parse bytes.
    * Scratch lives under [[QueryUtil.scratchRoot]]. */
  private def stagedBlobsDir(s: SparkSession, dir: String, fmt: String,
      blobCol: Column => Column): String = {
    val root = QueryUtil.scratchRoot(s, "blobs")
    val path = s"$root/${new java.io.File(dir).getName}/$fmt"
    this.synchronized {
      if (!new java.io.File(path, "_SUCCESS").isFile)
        docs(s, dir)
          .select(col("doc_id"),
            blobCol(payload(col("text"))).as("bytes"))
          .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Byte-layout decode over the staged blob table: (doc_id, width,
    * height, channels) recovered from real BMP header bytes. Shared by
    * `mm_image_meta` and `mm_resize`. */
  private def realImageMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs = s.read.parquet(stagedBlobsDir(s, dir, "bmp",
        graft.operators.Multimodal.bmpBlobCol))
      .select(col("doc_id").as("id"), col("bytes"))
      .as[graft.operators.Multimodal.Blob]
    graft.operators.Multimodal
      .decodeWith(blobs, graft.operators.Multimodal.BmpDecoder)
      .select(col("id").as("doc_id"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        col("meta.channels").as("channels"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_blob_stats" -> ((s, dir) => {
      // Real (non-stub) payload stats: byte length + content address.
      withPayload(s, dir).select(col("doc_id"),
        blobLen(col("p")).cast("long").as("byte_len"),
        blobMd5(col("p")).as("content_md5"))
    }),
    "mm_image_meta" -> ((s, dir) => {
      // REAL byte-layout decode (round-9, was the declared stub): the
      // fixture stage synthesizes genuine BMP blobs (bmpBlob — real
      // BITMAPFILEHEADER/INFOHEADER, dims from the same md5 math the
      // oracle replays on the source text) and the query recovers
      // width/height/channels by PARSING THE BYTES (BmpDecoder via the
      // decodeWith mapPartitions plumbing — one decoder per partition,
      // the pandas-UDF analog). The hash gate closes the loop: green
      // iff the header writer and parser agree with the public BMP
      // layout, byte for byte.
      realImageMeta(s, dir)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"))
    }),
    "mm_resize" -> ((s, dir) => {
      // resize planning over the REAL header decode: cap the long edge
      // at 256, keep aspect (floor), report the raw-bitmap output budget
      realImageMeta(s, dir)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          resizeMeta(struct(col("width"), col("height"),
            col("channels")), 256).as("r"))
        .select(col("doc_id"), col("width"), col("height"),
          col("r.new_w").as("new_w"), col("r.new_h").as("new_h"),
          col("r.out_bytes").as("out_bytes"))
    }),
    "mm_wav_meta" -> ((s, dir) => {
      // Second REAL codec (round-9): canonical RIFF/WAVE PCM headers
      // synthesized columnar-side (wavBlobCol), staged once, then
      // sample rate / channels / bit depth recovered by PARSING THE
      // BYTES (SniffDecoder's WAV arm — fmt-chunk offsets per the
      // public layout). Same green-iff-layouts-agree gate as the BMP
      // keys, proving the decode plumbing is codec-generic, not
      // BMP-shaped.
      import s.implicits._
      val blobs = s.read.parquet(stagedBlobsDir(s, dir, "wav",
          graft.operators.Multimodal.wavBlobCol))
        .select(col("doc_id").as("id"), col("bytes"))
        .as[graft.operators.Multimodal.Blob]
      graft.operators.Multimodal
        .decodeMediaWith(blobs, graft.operators.Multimodal.SniffDecoder)
        .select(col("id").as("doc_id"),
          col("meta.a").as("sample_rate"),
          col("meta.b").as("channels"),
          col("meta.c").as("bits"))
    }),
    "mm_codec_dispatch" -> ((s, dir) => {
      // Heterogeneous-lake decode: a mixed blob table (even doc_ids
      // BMP, odd WAV — the parity is a FIXTURE choice; the decoder
      // never sees it) dispatched purely on leading magic bytes.
      // This is the real shape of a 100 TB media directory: one scan,
      // one narrow decode stage, per-row container routing — no
      // per-format job, no filename trust.
      import s.implicits._
      val bmp = s.read.parquet(stagedBlobsDir(s, dir, "bmp",
          graft.operators.Multimodal.bmpBlobCol))
        .filter(col("doc_id") % 2 === 0)
      val wav = s.read.parquet(stagedBlobsDir(s, dir, "wav",
          graft.operators.Multimodal.wavBlobCol))
        .filter(col("doc_id") % 2 === 1)
      val blobs = bmp.unionByName(wav)
        .select(col("doc_id").as("id"), col("bytes"))
        .as[graft.operators.Multimodal.Blob]
      graft.operators.Multimodal
        .decodeMediaWith(blobs, graft.operators.Multimodal.SniffDecoder)
        .select(col("id").as("doc_id"),
          col("meta.kind").as("kind"),
          col("meta.a").as("m1"),
          col("meta.b").as("m2"),
          col("meta.c").as("m3"))
    }),
    "mm_features" -> ((s, dir) => {
      // REAL feature extraction (round-9, upgrading the declared
      // stub): 16-bin byte-class histogram of the payload as per-mille
      // fractions — an honest content-type/entropy feature vector (the
      // signal media routers compute before any decode), produced by a
      // one-pass codegen kernel (HashKernels.byteHistogram).
      // DETERMINISM: counts and length are exact integers; floor(c ·
      // 1000/len + 0.5) is the identical IEEE op chain in both
      // engines. The ASCII corpus makes DuckDB's per-char \xNN-class
      // counts equal these per-byte counts.
      val len = blobLen(col("p")).cast("double")
      withPayload(s, dir).select(col("doc_id"),
        array_join(transform(
          graft.functions.HashKernels.byteHistogram(col("p")),
          c => when(len > 0,
            floor(c.cast("double") * 1000.0 / len + 0.5).cast("long"))
            .otherwise(0L).cast("string")), ",").as("feat"))
    }),
    "mm_frame_sample" -> ((s, dir) => {
      // Real byte-slice frame sampling; one row per (doc, frame).
      withPayload(s, dir)
        .select(col("doc_id"), explode(frameSamples(col("p"), 4)).as("fr"))
        .select(col("doc_id"),
          col("fr.frame_idx").cast("long").as("frame_idx"),
          col("fr.frame_md5").as("frame_md5"))
    }),
    "mm_phash_dedup" -> ((s, dir) => {
      // Perceptual-hash NEAR-DUP detection over the staged blobs —
      // extends the mm family from metadata decode to content dedup
      // (the image-dedup stage of a multimodal training pipeline).
      // dHash shape: 61 bytes sampled at evenly-spaced offsets of the
      // PARSED pixel region (the blob past the 54-byte BMP header;
      // fixtures are payload-truncated, so the "image" is 1-D — the
      // sampling grid is the honest analog of the 9×8 downsample),
      // bit i = sample[i] > sample[i+1] → a 60-bit hash; then 4×15-bit
      // LSH bands pigeonhole hamming ≤ 3 into ≥ 1 equal band (the
      // dedup_simhash argument), equi-join on (band, value), exact
      // bit_count(xor) verify. Pure codegen: 61 substr/hex/conv chains
      // per row, CSE'd; the band join shuffles only (band, id, hash).
      // The oracle replays the same sampled comparisons from the source
      // text (pixel bytes ARE the ASCII payload), so green proves the
      // Spark side recovered the bytes from the real layout.
      val blobs = s.read.parquet(stagedBlobsDir(s, dir, "bmp",
          graft.operators.Multimodal.bmpBlobCol))
        .select(col("doc_id"), col("bytes"))
      val plen = (length(col("bytes")) - 54).cast("long")
      def byteAt(i: Int): Column =
        conv(hex(substr(col("bytes"),
          (lit(55L) + floor(lit(i.toDouble) * plen.cast("double") /
            lit(61.0)).cast("long")).cast("int"), lit(1))), 16, 10)
          .cast("int")
      val samples = (0 to 60).map(byteAt)
      val ph = (0 until 60).map(i =>
          when(samples(i) > samples(i + 1), lit(1L << i)).otherwise(0L))
        .reduce(_ + _)
      val h = blobs.filter(plen > 0).select(col("doc_id"), ph.as("ph"))
      val bands = h.select(col("doc_id"), col("ph"),
          explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("bv", expr("shiftright(ph, 15 * j) % 32768"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.j") === col("b.j") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.ph").as("pa"), col("b.ph").as("pb"))
        .distinct()
      // the ranked verification queue: the 20 closest banded candidate
      // pairs (exact dups surface at hamming 0 when the corpus has
      // them; at sf0.01 the fixture has none, and the queue still
      // carries the band-collision candidates a verifier would score).
      // TakeOrdered (sort+limit), not a global window; ties break on
      // the unique (doc_a, doc_b).
      cand.select(col("doc_a"), col("doc_b"),
          expr("cast(bit_count(pa ^ pb) as bigint)").as("hamming"))
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
        .limit(20)
    })
  )

  /** 60-bit salted payload hash, DuckDB side. `encode(text)` is the
    * UTF-8-bytes payload; hex() of a BLOB is uppercase in both engines. */
  private def saltedSql(tag: String): String =
    s"CAST(concat('0x', substr(md5(concat(hex(p), '$tag')), 1, 15)) AS BIGINT)"

  // DuckDB's md5/substring take VARCHAR only. The corpus is pure ASCII
  // (verified), so VARCHAR char ops == payload byte ops and md5(text) ==
  // md5 of the UTF-8 payload bytes.
  val oracleSql: Map[String, String] = Map(
    "mm_blob_stats" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
         md5(text) AS content_md5
         FROM documents""",
    "mm_image_meta" ->
      s"""WITH b AS (SELECT doc_id, encode(text) AS p FROM documents)
         SELECT doc_id,
           ${saltedSql("-w")} % 1280 + 64 AS width,
           ${saltedSql("-h")} % 720 + 64 AS height,
           ${saltedSql("-c")} % 3 + 1 AS channels
         FROM b""",
    "mm_resize" ->
      s"""WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
         m AS (SELECT doc_id,
           ${saltedSql("-w")} % 1280 + 64 AS w,
           ${saltedSql("-h")} % 720 + 64 AS h,
           ${saltedSql("-c")} % 3 + 1 AS c
           FROM b)
         SELECT doc_id, w AS width, h AS height,
           CASE WHEN greatest(w, h) <= 256 THEN w
                ELSE greatest(1, CAST(floor(w * 256 / greatest(w, h))
                  AS BIGINT)) END AS new_w,
           CASE WHEN greatest(w, h) <= 256 THEN h
                ELSE greatest(1, CAST(floor(h * 256 / greatest(w, h))
                  AS BIGINT)) END AS new_h,
           (CASE WHEN greatest(w, h) <= 256 THEN w
                ELSE greatest(1, CAST(floor(w * 256 / greatest(w, h))
                  AS BIGINT)) END
            * CASE WHEN greatest(w, h) <= 256 THEN h
                ELSE greatest(1, CAST(floor(h * 256 / greatest(w, h))
                  AS BIGINT)) END
            * c) AS out_bytes
         FROM m""",
    "mm_wav_meta" ->
      s"""WITH b AS (SELECT doc_id, encode(text) AS p FROM documents)
         SELECT doc_id,
           ${saltedSql("-sr")} % 40001 + 8000 AS sample_rate,
           ${saltedSql("-ac")} % 2 + 1 AS channels,
           (${saltedSql("-bd")} % 3 + 1) * 8 AS bits
         FROM b""",
    "mm_codec_dispatch" ->
      s"""WITH b AS (SELECT doc_id, encode(text) AS p FROM documents)
         SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS kind,
           CASE WHEN doc_id % 2 = 0 THEN ${saltedSql("-w")} % 1280 + 64
                ELSE ${saltedSql("-sr")} % 40001 + 8000 END AS m1,
           CASE WHEN doc_id % 2 = 0 THEN ${saltedSql("-h")} % 720 + 64
                ELSE ${saltedSql("-ac")} % 2 + 1 END AS m2,
           CASE WHEN doc_id % 2 = 0 THEN ${saltedSql("-c")} % 3 + 1
                ELSE (${saltedSql("-bd")} % 3 + 1) * 8 END AS m3
         FROM b""",
    "mm_features" ->
      s"""WITH b AS (SELECT doc_id, text,
           octet_length(encode(text)) AS len FROM documents)
         SELECT doc_id,
           array_to_string([${(0 until 16).map { bk =>
             val bs = "\\"
             val lo = f"${bk * 16}%02x"
             val hi = f"${bk * 16 + 15}%02x"
             s"CASE WHEN len > 0 THEN CAST(floor((length(text) - " +
               s"length(regexp_replace(text, '[${bs}x$lo-${bs}x$hi]', " +
               s"'', 'g'))) * 1000.0 / len + 0.5) AS BIGINT) " +
               "ELSE 0 END"
           }.mkString(", ")}], ',') AS feat
         FROM b""",
    "mm_frame_sample" ->
      s"""WITH f AS (SELECT doc_id, text,
                 greatest(1, CAST(floor(octet_length(encode(text)) / 4.0)
                   AS INT)) AS flen
                 FROM documents)
         SELECT doc_id, j AS frame_idx,
           md5(substring(text, CAST(j * flen + 1 AS INT), flen)) AS frame_md5
         FROM f CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)""",
    // pixel bytes ARE the ASCII payload, so 1-based char position p in
    // text == blob byte 54 + p; the hash replay proves the Spark side
    // read the same bytes through the real BMP layout
    "mm_phash_dedup" ->
      """WITH p AS (
           SELECT doc_id, text AS pl, octet_length(encode(text)) AS plen
           FROM documents WHERE octet_length(encode(text)) > 0
         ), h AS (
           SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), i ->
             CASE WHEN unicode(substr(pl,
                      CAST(1 + floor(i * plen / 61.0) AS BIGINT), 1))
                    > unicode(substr(pl,
                      CAST(1 + floor((i + 1) * plen / 61.0) AS BIGINT), 1))
                  THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                  ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS ph
           FROM p
         ), bands AS (
           SELECT doc_id, ph,
                  (ph >> CAST(15 * j AS INTEGER)) % 32768 AS bv, j
           FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
         ), cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.ph AS pa, b.ph AS pb
           FROM bands a JOIN bands b
             ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
         )
         SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS BIGINT)
                AS hamming
         FROM cand ORDER BY hamming, doc_a, doc_b LIMIT 20"""
  )
}
