package graft

import org.apache.spark.sql.functions._

import graft.tools.StreamBench

/** StreamBench's input staging: micro-batch files in event-time order. */
class StreamBenchSpec extends SparkSpec {

  import spark.implicits._

  test("staged micro-batch files hold consecutive event-time ranges in mtime order") {
    // 2,000 events whose row order is a scramble of their event-time order
    val events = spark.range(2000).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(col("id") * 7919, lit(2000)) * 1000003L).as("ts"))
    val dir = tempSfDir() + "/stream_in"
    val files = StreamBench.stage(events, 4, dir)

    assert(files.size > 1, "the input must span several micro-batches")
    assert(files.map(_.lastModified) == files.map(_.lastModified).sorted.distinct,
      "the file source takes files by mtime: it must increase in batch order")
    val ranges = files.map { f =>
      spark.read.parquet(f.getPath).agg(min("ts"), max("ts"), count(lit(1)))
        .as[(java.sql.Timestamp, java.sql.Timestamp, Long)].head()
    }
    assert(ranges.map(_._3).sum == 2000L)
    ranges.sliding(2).foreach { case Seq((_, maxTs, _), (minTs, _, _)) =>
      assert(!maxTs.after(minTs), s"file ending at $maxTs overlaps one starting at $minTs")
    }
  }
}
