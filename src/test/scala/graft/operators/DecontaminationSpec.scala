package graft.operators

import org.apache.spark.sql.SaveMode

import graft.SparkSpec

/** The bench shingle-hash set c1/c2/c3 collect is bounded:
  * above the bound the collect raises, naming it, instead of growing.
  */
class DecontaminationSpec extends SparkSpec {

  test("sortedBenchHashes returns the sorted set within the bound and raises above it") {
    import spark.implicits._
    val dir = tempSfDir()
    // one 12-token bench doc: 5 distinct 8-shingles; one corpus doc
    val bench = (1 to 12).map(i => s"w$i").mkString(" ")
    Seq((1L, bench, "src0"), (2L, "a b c d e f g h i", "src1"))
      .map { case (id, text, source) => (id, text, "en", source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")

    val all = Decontamination.benchShingles(spark, dir).as[Long].collect().sorted.toSeq
    assert(all.size == 5)
    val got = Decontamination.sortedBenchHashes(spark, dir, 8, "src0", bound = 5)
    assert(got.toSeq == all)

    val e = intercept[IllegalStateException](
      Decontamination.sortedBenchHashes(spark, dir, 8, "src0", bound = 4))
    assert(e.getMessage.contains("more than 4 distinct"))
    assert(e.getMessage.contains("MaxBenchHashes"))
  }
}
