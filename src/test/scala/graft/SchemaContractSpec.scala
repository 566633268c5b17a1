package graft

import org.apache.spark.sql.types._

/** Testdata-schema contract: pins the dtypes the engine's time math and
  * encoders assume, against the REAL driver-generated parquet. When the
  * driver regenerates testdata with a different encoding (the r5 break:
  * `events.ts` silently moved from INT64 nanos to TIMESTAMP micros), this
  * fails loudly in one named test instead of 18 queries at analysis time —
  * and points at [[Tables.eventSeconds]] as the one-line fix site.
  */
class SchemaContractSpec extends SparkSuite {

  test("events.ts is TIMESTAMP_NTZ (micros wall-clock) in the real testdata") {
    val dt = Tables.events(spark, sf).schema("ts").dataType
    assert(dt == TimestampNTZType,
      s"events.ts is $dt — update Tables.eventSeconds/eventMicros to the new encoding")
  }

  private def assertStreamMatchesFooter(t: String, stream: org.apache.spark.sql.DataFrame): Unit = {
    val batch = spark.read.parquet(s"$sf/$t.parquet").schema
    assert(stream.schema == batch,
      s"the $t stream schema drifted from the parquet footer: stream=${stream.schema} batch=$batch")
  }

  test("streaming read schema matches the batch-inferred events schema") {
    import graft.streaming.Streaming
    assertStreamMatchesFooter("events", Streaming.events(spark, sf).drop("event_ts"))
  }

  test("streaming read schemas match the batch-inferred documents and embeddings schemas") {
    import graft.streaming.Streaming
    assertStreamMatchesFooter("documents", Streaming.documents(spark, sf))
    assertStreamMatchesFooter("embeddings", Streaming.embeddings(spark, sf))
  }

  test("eventSeconds floors to DuckDB epoch() semantics on the real data") {
    // pin the derivation itself: seconds * 1e6 <= micros < (seconds+1) * 1e6
    val bad = Tables.events(spark, sf)
      .select(Tables.eventSeconds.as("s"), Tables.eventMicros.as("us"))
      .where(!(org.apache.spark.sql.functions.col("s") * 1000000L <=
          org.apache.spark.sql.functions.col("us") &&
        org.apache.spark.sql.functions.col("us") <
          (org.apache.spark.sql.functions.col("s") + 1) * 1000000L))
      .count()
    assert(bad == 0L)
  }

  test("documents/embeddings carry the dtypes the text and vector kernels assume") {
    // the codegen'd vector kernels (CosineSimilarity, HyperplaneBuckets)
    // and the Float-typed quantizer are compiled against array<float>; a
    // driver-side regeneration to array<double> must fail here, not in
    // 20 similarity queries
    assert(Tables.embeddings(spark, sf).schema("embedding").dataType ==
      ArrayType(FloatType, containsNull = true))
    assert(Tables.documents(spark, sf).schema("text").dataType == StringType)
  }

  test("bookmark keys in the catalog exist with an orderable integral type") {
    Seq("orders", "lineitem", "events", "documents", "embeddings").foreach { t =>
      val key = Tables.bookmarkKey(t)
      val dt = Tables.schema(spark, sf, t)(key).dataType
      assert(dt == LongType || dt == IntegerType, s"$t.$key is $dt")
    }
  }
}
