package graft

import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Fixture-shape tripwire (SURVEY.md §15): pins the testdata row
  * counts and the `events.ts` scanned type per scale factor, so a
  * driver-side regeneration that changes either fails ONE named test
  * here instead of breaking dozens of keys with opaque analysis
  * errors (the round-7 failure mode: ts flipped ns→µs between
  * sessions and 25 registry keys silently vanished from the
  * correctness output).
  */
class FixtureShapeSpec extends SparkTestBase {

  // (sf dir, events, documents, embeddings, orders, lineitem)
  private val shapes = Seq(
    ("/root/testdata/sf0.001", 1000L, 500L, 500L, 1500L, 6000L),
    ("/root/testdata/sf0.01", 10000L, 500L, 500L, 15000L, 60000L),
    ("/root/testdata/sf0.1", 100000L, 5000L, 2000L, 150000L, 600000L))

  test("row counts per scale factor match the SURVEY §1.2/§15 pin") {
    for ((d, ev, docs, emb, ord, li) <- shapes) {
      assert(engine.Tables.events(spark, d).count() == ev, s"$d events")
      assert(engine.Tables.documents(spark, d).count() == docs, s"$d documents")
      assert(engine.Tables.embeddings(spark, d).count() == emb, s"$d embeddings")
      assert(engine.Tables.orders(spark, d).count() == ord, s"$d orders")
      assert(engine.Tables.lineitem(spark, d).count() == li, s"$d lineitem")
    }
  }

  test("dimension tables hold their fixed shapes at every SF") {
    // orders/lineitem scale; these five must NOT (a regeneration that
    // resizes a dimension breaks FK profiles silently otherwise)
    for ((d, _, _, _, ord, _) <- shapes) {
      assert(engine.Tables.region(spark, d).count() == 5L, s"$d region")
      assert(engine.Tables.nation(spark, d).count() == 25L, s"$d nation")
      assert(engine.Tables.customer(spark, d).count() == ord / 10,
        s"$d customer (≈ orders/10)")
      assert(engine.Tables.supplier(spark, d).count() == ord / 150,
        s"$d supplier")
      assert(engine.Tables.part(spark, d).count() == ord * 2 / 15, s"$d part")
    }
  }

  test("events.value is non-null at every SF (the events_ewma precondition)") {
    // eventsEwma folds collect_list(value), which drops NULLs: a null
    // value would shift every later lag instead of being skipped
    for ((d, _, _, _, _, _) <- shapes) {
      val nulls = engine.Tables.events(spark, d)
        .filter(org.apache.spark.sql.functions.col("value").isNull).count()
      assert(nulls == 0L, s"$d has $nulls null events.value rows")
    }
  }

  test("events.ts scanned type is a repairTs-supported encoding at every SF") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for ((d, _, _, _, _, _) <- shapes) {
      val raw = spark.read.parquet(s"$d/events.parquet").schema("ts").dataType
      assert(Set[Any](LongType, TimestampNTZType, TimestampType)(raw),
        s"$d events.ts scanned as $raw — extend Tables.repairTs before " +
          "anything else breaks")
    }
  }

  test("Tables.events normalizes ts to TimestampType with long ts_ns") {
    val ev = engine.Tables.events(spark, sfDir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.schema("ts_ns").dataType == LongType)
    // ts_ns must be epoch NANOS of ts exactly (both derivation paths)
    import org.apache.spark.sql.functions._
    val off = ev.filter(unix_micros(col("ts")) * lit(1000L) =!= col("ts_ns"))
      .count()
    assert(off == 0L, s"$off rows where ts_ns != unix_micros(ts)*1000")
  }

  test("repairTs keeps ns-long inputs on the truncating path") {
    // Synthesize the PRE-regeneration shape (raw ns longs) and check
    // the branch still truncates ns→µs exactly — the mixed-lake
    // guarantee §15 documents.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, 1704067211172425938L), (2L, 1704067211172425999L))
      .toDF("event_id", "ts")
    val fixed = engine.Tables.repairTs(df)
    assert(fixed.schema("ts").dataType == TimestampType)
    val rows = fixed.select(unix_micros(col("ts")), col("ts_ns"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1704067211172425L, 1704067211172425938L),
                       (1704067211172425L, 1704067211172425999L)))
  }
}
