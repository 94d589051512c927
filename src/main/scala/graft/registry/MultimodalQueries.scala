package graft
package registry

import org.apache.spark.sql.functions._
import graft.core.Tables

/** Multimodal (image, audio, video) dedup and feature queries. */
object MultimodalQueries {

  val queries: Seq[Query] = Seq(
    Query("mm_dedup", (s, dir) => {
      // exact content dedup over the binary payload column: re-crawled
      // identical media (planted %7 copies) collapse by sha-256
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val media = docs.unionByName(copies)
        .withColumn("payload", col("text").cast("binary"))
      graft.operators.Multimodal.binaryDedup(media, "payload", "doc_id")
    },
      // identical bytes -> identical sha-256 in both engines; keeper
      // and keep flag are integer/string-exact
      """WITH m AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0),
        |h AS (SELECT doc_id, sha256(text) AS checksum FROM m),
        |c AS (SELECT checksum, min(doc_id) AS canonical_id FROM h GROUP BY 1)
        |SELECT h.doc_id, h.checksum, c.canonical_id,
        |       (h.doc_id = c.canonical_id) AS keep
        |FROM h JOIN c USING (checksum)""".stripMargin),

    Query("mm_near_dedup", (s, dir) => {
      // near-dup media: exact copies, 8-byte-header re-encodes and
      // tail-corrupted variants all land within a few sketch bits of
      // their original; sliding 16-byte windows at stride 8 keep
      // interior windows aligned across the header shift
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
      val copies = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val prefixed = docs.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(lit("HDRv2___"), col("text")).as("text"))
      val suffixed = docs.filter(col("doc_id") % 5 === 2)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(col("text"), lit("XTRA")).as("text"))
      val media = docs.unionByName(copies).unionByName(prefixed)
        .unionByName(suffixed)
        .withColumn("payload", col("text").cast("binary"))
      graft.operators.Multimodal.binaryNearDup(media, "payload", "doc_id")
    },
      // byte windows align to hex-pair windows, so the oracle hashes
      // the identical uppercase-hex chunk forms; sketch, banding and
      // Hamming verify mirror the dedup_simhash oracle
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |m AS (SELECT doc_id, text FROM docs
        |      UNION ALL SELECT doc_id + 100000, text FROM docs WHERE doc_id % 7 = 0
        |      UNION ALL SELECT doc_id + 200000, 'HDRv2___' || text FROM docs WHERE doc_id % 5 = 1
        |      UNION ALL SELECT doc_id + 300000, text || 'XTRA' FROM docs WHERE doc_id % 5 = 2),
        |w AS (SELECT doc_id, upper(hex(encode(text))) AS hx,
        |        octet_length(encode(text)) AS nb
        |      FROM m WHERE octet_length(encode(text)) > 0),
        |ch AS (SELECT doc_id, unnest(list_transform(
        |         range(0, greatest((nb - 16) // 8, 0) + 1),
        |         k -> substr(hx, k * 16 + 1, 32))) AS chunk FROM w),
        |th AS (SELECT doc_id, CAST('0x' || substr(md5(chunk), 1, 15) AS BIGINT) AS th FROM ch),
        |bits AS (SELECT doc_id, i, sum(CASE WHEN (th >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM th, range(60) r(i) GROUP BY doc_id, i),
        |sim AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS simhash
        |        FROM bits GROUP BY doc_id),
        |banded AS (SELECT doc_id, simhash, bb.b AS band, (simhash >> (bb.b * 10)) & 1023 AS key
        |           FROM sim, range(6) bb(b)),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |            bit_count(xor(a.simhash, b.simhash)) AS hamming
        |          FROM banded a JOIN banded b USING (band, key)
        |          WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 5""".stripMargin),

    Query("mm_features", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("payload", col("text").cast("binary"))
      val sampled = graft.operators.Multimodal.frameSample(docs, "payload", 32)
      // the sample is compared by HEX, not by a string round-trip or a
      // hash-of-string: the oracle strides the same UTF-8 bytes via
      // hex(encode(text)), so parity holds for multi-byte text too
      sampled.select(col("doc_id"),
        length(col("payload")).cast("bigint").as("n_bytes"),
        sha2(col("payload"), 256).as("checksum"),
        length(col("sample")).cast("bigint").as("sample_len"),
        upper(hex(col("sample"))).as("sample_hex"))
    },
      // byte-based, like the Spark side: stride over the UTF-8 BYTES
      // of text (2 hex chars per byte), not over characters — the two
      // only coincide on pure-ASCII corpora
      """WITH s AS (
        |  SELECT doc_id, text, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb
        |  FROM documents)
        |SELECT doc_id,
        |  nb AS n_bytes,
        |  sha256(text) AS checksum,
        |  len(range(0, nb, 32)) AS sample_len,
        |  CASE WHEN text IS NULL THEN NULL
        |       ELSE coalesce(list_aggregate(list_transform(range(0, nb, 32),
        |         i -> substr(hx, (2*i+1)::INT, 2)), 'string_agg', ''), '') END AS sample_hex
        |FROM s""".stripMargin),

    Query("mm_dims", (s, dir) => {
      // Deterministic container payloads built FROM doc_id formulas
      // (PNG / GIF / JPEG-with-variable-APP0 / prefixed text), parsed
      // back by mediaDims. Only Spark parses — the oracle asserts the
      // embedded dimensions directly, so a wrong header offset, a
      // flipped GIF endianness, or a broken JPEG marker walk all
      // surface as value mismatches.
      val d = col("doc_id")
      val w = (pmod(d, lit(1021)) + 1).cast("int")
      val h = (pmod(d * 3, lit(769)) + 1).cast("int")
      val wBe4 = lpad(hex(w), 8, "0"); val hBe4 = lpad(hex(h), 8, "0")
      val wBe2 = lpad(hex(w), 4, "0"); val hBe2 = lpad(hex(h), 4, "0")
      def le2(be2: org.apache.spark.sql.Column) =
        concat(substring(be2, 3, 2), substring(be2, 1, 2))
      // APP0 length varies 2..7 so the SOF is never at a fixed offset
      val p = pmod(d, lit(6)).cast("int")
      val padHex = expr("repeat('00', cast(pmod(doc_id, 6) as int))")
      val pngHex = concat(lit("89504E470D0A1A0A" + "0000000D" + "49484452"), wBe4, hBe4)
      val gifHex = concat(lit("474946383961"), le2(wBe2), le2(hBe2))
      val jpgHex = concat(lit("FFD8FFE0"), lpad(hex(p + 2), 4, "0"), padHex,
        lit("FFC0000708"), hBe2, wBe2)
      val fmt = pmod(d, lit(4))
      val payload = when(fmt === 0, unhex(pngHex))
        .when(fmt === 1, unhex(gifHex))
        .when(fmt === 2, unhex(jpgHex))
        // 0x00 prefix pins the fall-through arm: no text can alias a
        // container signature
        .otherwise(concat(unhex(lit("00")),
          encode(coalesce(col("text"), lit("")), "UTF-8")))
      val docs = Tables.documents(s, dir).withColumn("payload", payload)
      graft.operators.Multimodal.mediaDims(docs, "payload")
        .select(col("doc_id"), col("media_format"), col("media_width"), col("media_height"))
    },
      // the Spark side builds the payloads from these same doc_id
      // formulas and then PARSES them; the oracle states the embedded
      // values outright, so only a correct parser hash-matches
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |       WHEN 2 THEN 'jpeg' ELSE 'unknown' END AS media_format,
        |  CASE WHEN doc_id % 4 <= 2 THEN CAST(1 + doc_id % 1021 AS INT) END AS media_width,
        |  CASE WHEN doc_id % 4 <= 2 THEN CAST(1 + (doc_id * 3) % 769 AS INT) END AS media_height
        |FROM documents""".stripMargin),

    Query("mm_audio", (s, dir) => {
      // WAV payloads CONSTRUCTED from doc_id formulas — a variable-
      // length LIST chunk (0-5 bytes, pad byte when odd) precedes
      // fmt , so the RIFF chunk walk is really exercised (no fixed
      // offset works); every 4th doc carries a text payload and must
      // yield NULLs. Only Spark parses; the oracle states the
      // embedded values from the same formulas.
      val d = col("doc_id")
      def le2(x: org.apache.spark.sql.Column) = {
        val h = lpad(hex(x), 4, "0")
        concat(substring(h, 3, 2), substring(h, 1, 2))
      }
      def le4(x: org.apache.spark.sql.Column) = {
        val h = lpad(hex(x), 8, "0")
        concat(substring(h, 7, 2), substring(h, 5, 2),
          substring(h, 3, 2), substring(h, 1, 2))
      }
      val channels = (pmod(d, lit(2)) + 1).cast("long")
      val rate = when(pmod(d, lit(3)) === 0, 8000L)
        .when(pmod(d, lit(3)) === 1, 16000L).otherwise(44100L)
      val bits = when(pmod(d, lit(2)) === 0, 8L).otherwise(16L)
      val bytesPerSample = when(bits === 8, 1L).otherwise(2L)
      val nData = (pmod(d, lit(500)) * 2).cast("long")
      val p = pmod(d, lit(6)).cast("long")
      val pad = pmod(p, lit(2))
      val listHex = concat(lit("4C495354"), le4(p),
        expr("repeat('00', cast(pmod(doc_id, 6) as int))"),
        when(pad === 1, lit("00")).otherwise(lit("")))
      val riffSize = lit(4L) + lit(8L) + p + pad + lit(24L) + lit(8L) + nData
      val wavHex = concat(lit("52494646"), le4(riffSize), lit("57415645"),
        listHex,
        lit("666D7420"), lit("10000000"), lit("0100"), le2(channels),
        le4(rate), le4(rate * channels * bytesPerSample),
        le2(channels * bytesPerSample), le2(bits),
        lit("64617461"), le4(nData),
        expr("repeat('00', cast(pmod(doc_id, 500) * 2 as int))"))
      val payload = when(pmod(d, lit(4)) === 3,
          concat(unhex(lit("00")), encode(coalesce(col("text"), lit("")), "UTF-8")))
        .otherwise(unhex(wavHex))
      val docs = Tables.documents(s, dir).withColumn("payload", payload)
      graft.operators.Multimodal.audioMeta(docs, "payload")
        .select(col("doc_id"), col("wav_channels"), col("wav_rate"),
          col("wav_bits"), col("wav_data_bytes"), col("wav_ms"))
    },
      // same contract as mm_dims: Spark builds WAV payloads from these
      // doc_id formulas and PARSES them back through the RIFF chunk
      // walk; the oracle states the embedded values, so a wrong chunk
      // offset, flipped endianness, or missed pad byte all mismatch
      """WITH f AS (SELECT doc_id,
        |  doc_id % 4 = 3 AS txt,
        |  1 + doc_id % 2 AS ch,
        |  CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS rate,
        |  CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS bits,
        |  (doc_id % 500) * 2 AS nd
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN txt THEN NULL ELSE ch END AS wav_channels,
        |  CASE WHEN txt THEN NULL ELSE rate END AS wav_rate,
        |  CASE WHEN txt THEN NULL ELSE bits END AS wav_bits,
        |  CASE WHEN txt THEN NULL ELSE nd END AS wav_data_bytes,
        |  CASE WHEN txt THEN NULL ELSE (nd * 8000) // (rate * ch * bits) END AS wav_ms
        |FROM f""".stripMargin),

    Query("mm_video", (s, dir) => {
      // MP4 payloads CONSTRUCTED from doc_id formulas — a variable-
      // size free box precedes moov AND another free child precedes
      // mvhd inside it, so the two-level box walk is really
      // exercised; every 4th doc carries a text payload -> NULLs
      val d = col("doc_id")
      def be4(x: org.apache.spark.sql.Column) = lpad(hex(x), 8, "0")
      val ts = when(pmod(d, lit(3)) === 0, 600L)
        .when(pmod(d, lit(3)) === 1, 1000L).otherwise(90000L)
      val dur = (pmod(d, lit(90000)) * 7).cast("long")
      val p = pmod(d, lit(7)).cast("long")
      val q = pmod(d, lit(5)).cast("long")
      val ftypHex = lit("00000010" + "66747970" + "69736F6D" + "00000000")
      val freeP = concat(be4(p + 8), lit("66726565"),
        expr("repeat('00', cast(pmod(doc_id, 7) as int))"))
      val freeQ = concat(be4(q + 8), lit("66726565"),
        expr("repeat('00', cast(pmod(doc_id, 5) as int))"))
      val mvhd = concat(be4(lit(28L)), lit("6D766864"),
        lit("00000000" + "00000000" + "00000000"), be4(ts), be4(dur))
      val moov = concat(be4(q + 8 + 36), lit("6D6F6F76"), freeQ, mvhd)
      val mp4Hex = concat(ftypHex, freeP, moov)
      val payload = when(pmod(d, lit(4)) === 3,
          concat(unhex(lit("00")), encode(coalesce(col("text"), lit("")), "UTF-8")))
        .otherwise(unhex(mp4Hex))
      val docs = Tables.documents(s, dir).withColumn("payload", payload)
      graft.operators.Multimodal.videoMeta(docs, "payload")
        .select(col("doc_id"), col("mp4_timescale"), col("mp4_duration"),
          col("mp4_version"), col("mp4_ms"))
    },
      // same contract as mm_dims/mm_audio: Spark builds MP4 payloads
      // from these doc_id formulas and PARSES them back through the
      // two-level box walk; the oracle states the embedded values
      """WITH f AS (SELECT doc_id,
        |  doc_id % 4 = 3 AS txt,
        |  CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS ts,
        |  (doc_id % 90000) * 7 AS dur
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN txt THEN NULL ELSE ts END AS mp4_timescale,
        |  CASE WHEN txt THEN NULL ELSE dur END AS mp4_duration,
        |  CASE WHEN txt THEN NULL ELSE 0 END AS mp4_version,
        |  CASE WHEN txt THEN NULL ELSE (dur * 1000) // ts END AS mp4_ms
        |FROM f""".stripMargin)
  )
}
