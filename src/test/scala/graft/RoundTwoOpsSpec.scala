package graft

import java.sql.Timestamp

import org.apache.spark.sql.SaveMode

import graft.operators.{Analytics, Curation, DecisionSupport, TextAnalysis}

/** Semantics of the round-2 additions on crafted fixtures: the q21
  * sole-late-supplier blame rule, the q12 lateness banding clamp, PII
  * redaction on real-looking fixtures (the driver corpus is PII-free, so
  * only a spec can exercise matches), entropy edge cases, the exact Zipf
  * slope of a constructed rank-frequency line, and int8 quantization
  * round-trip error.
  */
class RoundTwoOpsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private def writeLineOrders(dir: String,
                              orders: Seq[(Long, Long, String, Timestamp)],
                              lines: Seq[(Long, Long, Timestamp)]): Unit = {
    import spark.implicits._
    orders.map { case (ok, ck, st, d) => (ok, ck, st, 1.0, d, "5-LOW") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/orders.parquet")
    lines.map { case (ok, sk, ship) =>
      (ok, 1L, sk, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ship)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/lineitem.parquet")
  }

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.map { case (id, text) => (id, text, "en", "s0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }

  test("q21 blames only the sole late supplier of a multi-supplier order") {
    import spark.implicits._
    val dir = tempSfDir()
    Seq((7L, "s7", 0, 0.0), (8L, "s8", 0, 0.0), (9L, "s9", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/supplier.parquet")
    val d0 = ts("1996-01-01")
    val onTime = ts("1996-02-01")  // +31d
    val lateSh = ts("1996-06-01")  // +152d > 90
    writeLineOrders(dir,
      orders = Seq(
        (1L, 1L, "F", d0), // multi-supplier, only s7 late -> blame s7
        (2L, 1L, "F", d0), // multi-supplier, two late -> nobody blamed
        (3L, 1L, "F", d0), // single supplier late -> no blame (no one waited)
        (4L, 1L, "O", d0)), // not finished -> excluded entirely
      lines = Seq(
        (1L, 7L, lateSh), (1L, 8L, onTime),
        (2L, 7L, lateSh), (2L, 8L, lateSh),
        (3L, 9L, lateSh),
        (4L, 9L, lateSh), (4L, 7L, onTime)))
    val got = DecisionSupport.blameSupplier(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == Seq((7L, 1L)), s"got ${got.toSeq}")
  }

  test("q12 clamps lateness bands to [-1, 6] and splits priorities") {
    import spark.implicits._
    val dir = tempSfDir()
    val d0 = ts("1996-06-01")
    Seq(
      (1L, 1L, "F", 1.0, d0, "1-URGENT"),
      (2L, 1L, "F", 1.0, d0, "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/orders.parquet")
    Seq(
      (1L, ts("1995-01-01")), // shipped long before order -> band -1
      (1L, ts("1996-06-15")), // 14 days -> band 0
      (2L, ts("1997-06-01")), // a year late -> clamped to 6
      (2L, ts("1996-07-10"))) // 39 days -> band 1
      .map { case (ok, ship) =>
        (ok, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ship)
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/lineitem.parquet")
    val got = DecisionSupport.lateShipments(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((-1L, 1L, 0L), (0L, 1L, 0L), (1L, 0L, 1L), (6L, 0L, 1L)),
      s"got ${got.toSeq}")
  }

  test("x15 redacts emails, phones, and SSNs and counts each class") {
    val dir = tempSfDir()
    writeDocs(dir, Seq(
      (1L, "contact bob.smith+x@corp.example.com or 555-123-4567 now"),
      (2L, "ssn 123-45-6789 appears once"),
      (3L, "clean text with no identifiers at all")))
    val got = TextAnalysis.piiScrub(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 1L, 1L, 0L), (2L, 0L, 0L, 1L), (3L, 0L, 0L, 0L)),
      s"got ${got.toSeq}")
    // the md5 is of the REDACTED text: rows with hits must differ from a
    // plain md5 of the original, the clean row must not
    import org.apache.spark.sql.functions.{col, md5}
    val joined = TextAnalysis.piiScrub(spark, dir)
      .join(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), (col("redacted_md5") === md5(col("text"))).as("same"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(joined == Map(1L -> false, 2L -> false, 3L -> true))
  }

  test("x17 entropy is 0 for a constant doc and ln(n) for all-distinct tokens") {
    val dir = tempSfDir()
    writeDocs(dir, Seq(
      (1L, "w w w w"),        // constant -> H = 0
      (2L, "a b c d")))       // 4 distinct -> H = ln 4
    val got = TextAnalysis.docEntropy(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((4L, 0.0)))
    assert(got(2L)._1 == 4L)
    assert(math.abs(got(2L)._2 - math.log(4.0)) < 1e-6)
  }

  test("x18 recovers slope -1 from an exact power-law rank/frequency line") {
    // token counts 4, 2, 1 at ranks 1, 2, 4 would not be exact; use counts
    // (4, 2) at ranks (1, 2): slope = (ln2 - ln4)/(ln2 - ln1) = -1
    val dir = tempSfDir()
    writeDocs(dir, Seq((1L, "a a a a b b")))
    val got = TextAnalysis.zipfSlope(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("s0", 2L, -1.0, 1.0)), s"got ${got.toSeq}")
  }

  test("e1 int8 quantization error matches the hand-computed round-trip") {
    import spark.implicits._
    val dir = tempSfDir()
    // scale = 1.27/127 = 0.01; 0.005/0.01 = 0.5 rounds (half-up) to 1 ->
    // dequantized 0.01, error 0.005. 1.27 itself is exact (code 127).
    Seq((1L, Array(1.27f, 0.005f), 0L))
      .toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    val got = Curation.quantizeError(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == 1)
    val (label, n, avgErr, maxErr) = got(0)
    assert(label == 0L && n == 1L)
    // float literals widen exactly, so the expected error is computed the
    // same way the operator does it
    val x = 0.005f.toDouble
    val scale = 1.27f.toDouble / 127.0
    val expected = math.abs(x - math.floor(x / scale + 0.5) * scale)
    assert(math.abs(maxErr - (math.rint(expected * 1e6) / 1e6)) < 1e-9, s"maxErr $maxErr")
    assert(avgErr == maxErr)
  }

  test("q_cohort_retention counts a user once per week offset from first purchase") {
    import spark.implicits._
    val dir = tempSfDir()
    Seq(
      // user 1: first purchase Mon 2024-01-01 week, returns 2 weeks later (twice)
      (1L, "2024-01-02 10:00:00", 1L, "purchase", 1.0),
      (2L, "2024-01-16 10:00:00", 1L, "purchase", 1.0),
      (3L, "2024-01-17 10:00:00", 1L, "purchase", 1.0),
      // user 2: same cohort week, never returns
      (4L, "2024-01-03 10:00:00", 2L, "purchase", 1.0),
      // clicks don't count
      (5L, "2024-01-03 10:00:00", 3L, "click", 1.0))
      .map { case (id, t, u, typ, v) => (id, Timestamp.valueOf(t), u, typ, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    val got = Analytics.cohortRetention(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("2024-01-01", 0L, 2L), ("2024-01-01", 2L, 1L)),
      s"got ${got.toSeq}")
  }

  test("q_winsorize clamps outliers into the p01/p99 band") {
    import spark.implicits._
    val dir = tempSfDir()
    // 101 values 0..100: p01 = 1.0, p99 = 99.0 exactly (positions land on
    // integers), so exactly one value clips at each end
    val rows = (0 to 100).map(i =>
      (i.toLong, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "A", i.toDouble, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    val got = Analytics.winsorizedStats(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    // winsorized mean: (1 + 1..99 sum + 99)/101 = (4950 + 1 + 99 - 0 - 100 ... )
    // = (sum 0..100 = 5050; replace 0->1 (+1), 100->100 (-1)) = 5050/101 = 50.0
    assert(got.toSeq == Seq(("A", 101L, 50.0, 1L, 1L, 1.0, 99.0)), s"got ${got.toSeq}")
  }
}
