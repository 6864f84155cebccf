package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

class StreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("streaming windowed counts equal the batch equivalent") {
    val dir = "/root/testdata/sf0.001/events.parquet"
    val streamed = EventStream.windowedCounts(spark, dir, queryName = "ec_spec")
      .orderBy("win_start", "event_type")
    val batch = EventStream.windowedCountsBatch(spark, dir)
      .orderBy("win_start", "event_type")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stateful streaming dedup: first-seen per key equals batch, state spans batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two files → two micro-batches (maxFilesPerTrigger=1); the later file
    // carries an EARLIER event for key "b": state must replace it
    withTempDir("graft-stream-dedup") { dir =>
      Seq((10L, "a", "2021-01-01 10:00:00", 1.0), (11L, "b", "2021-01-01 11:00:00", 1.0))
        .toDF("event_id", "event_type", "ts", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.parquet(s"$dir/f1")
      Seq((12L, "b", "2021-01-01 09:00:00", 1.0), (13L, "a", "2021-01-01 12:00:00", 1.0))
        .toDF("event_id", "event_type", "ts", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.parquet(s"$dir/f2")
      withTempDir("graft-stream-flat") { flat =>
        // flatten the two part files into one source dir
        for (sub <- Seq("f1", "f2");
             f <- new java.io.File(s"$dir/$sub").listFiles if f.getName.endsWith(".parquet"))
          java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(s"$flat/$sub.parquet"))
        val got = EventStream.firstSeen(spark, flat, queryName = "fs_spec")
          .orderBy("event_type").collect()
          .map(r => (r.getString(0), r.getLong(1)))
        assert(got.toSeq == Seq(("a", 10L), ("b", 12L)))
      }
    }
  }
}
