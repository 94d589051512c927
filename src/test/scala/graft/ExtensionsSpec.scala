package graft

import org.apache.spark.sql.functions._
import graft.operators.Events

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("SQL functions register and match the Column API") {
    GraftExtensions.register(spark)
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b").createOrReplaceTempView("vecs")
    val r = spark.sql(
      """SELECT graft_dot(a, b) AS d, graft_l2sq(a, b) AS l2,
        |       graft_simhash(array(5L, 6L)) AS sh,
        |       size(graft_minhash(array(5L, 6L))) AS mh_len
        |FROM vecs""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 8.0)
    assert(r.getLong(2) >= 0L)
    assert(r.getInt(3) == 16)
  }

  test("text-cleanup SQL functions match the Column API") {
    GraftExtensions.register(spark)
    Seq(Tuple1("<p>Tom &amp;  JERRY</p> one two three four")).toDF("t")
      .createOrReplaceTempView("texts")
    val r = spark.sql(
      """SELECT graft_normalize(graft_strip_html(t)) AS clean,
        |       graft_truncate(graft_normalize(graft_strip_html(t)), 3) AS clipped,
        |       graft_hash64('abc') AS h
        |FROM texts""".stripMargin).head()
    assert(r.getString(0) == "tom & jerry one two three four")
    assert(r.getString(1) == "tom & jerry")
    assert(r.getLong(2) == graft.operators.AnnLsh.hash64Local("abc"))
  }

  test("graft_forest_keys and graft_byte_stride work from SQL") {
    Seq((Seq.fill(64)(0.25), "abcdefgh".getBytes("UTF-8")))
      .toDF("v", "b").createOrReplaceTempView("fx")
    val r = spark.sql(
      """SELECT graft_forest_keys(v, 3, 4, 64) AS keys,
        |       cast(graft_byte_stride(b, 3) AS STRING) AS s
        |FROM fx""".stripMargin).head()
    val keys = r.getSeq[Long](0)
    assert(keys.size == 3)
    // must equal the Column-API forest keys for the same vector
    val expected = graft.operators.AnnLsh.forestKeys(
      Seq(Tuple1(Seq.fill(64)(0.25))).toDF("qvec"), 3, 4, 64)
    assert(keys == expected)
    assert(r.getString(1) == "adg")
  }

  test("graft_wav_meta parses a WAV from SQL, NULL otherwise") {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val fmtBody = le16(1) ++ le16(1) ++ le32(8000) ++ le32(8000) ++ le16(1) ++ le16(8)
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(28) ++ "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ fmtBody
    Seq((wav, "nope".getBytes("UTF-8"))).toDF("w", "n").createOrReplaceTempView("wx")
    val r = spark.sql(
      "SELECT graft_wav_meta(w) AS m, graft_wav_meta(n) AS x FROM wx").head()
    assert(r.getSeq[Long](0) == Seq(1L, 8000L, 8L, 0L))
    assert(r.isNullAt(1))
  }

  test("graft_char_entropy and graft_hash_embed work from SQL") {
    Seq(("ababab", Seq("the", "quick", "the")))
      .toDF("s", "w").createOrReplaceTempView("tex")
    val r = spark.sql(
      "SELECT graft_char_entropy(s) AS e, graft_hash_embed(w, 16) AS v FROM tex").head()
    assert(math.abs(r.getDouble(0) - math.log(2.0)) < 1e-12)
    assert(r.getSeq[Double](1) == HashEmbedRef.embed("the quick the", 16))
  }

  test("session_window stats agree with lag/cumsum sessionization") {
    val events = Seq(
      (1L, 100L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (2L, 100L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 2.0),
      (3L, 100L, java.sql.Timestamp.valueOf("2024-01-01 10:50:00"), 3.0),
      (4L, 200L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 4.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val a = Events.sessionStats(events, "ts", "user_id", "event_id", "value", 30)
      .select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    val b = Events.sessionWindowStats(events, "ts", "user_id", "value", 30)
      .select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b)
  }
}
