package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Schema-drift pin for the events readers: the testdata generator has
  * shipped `events.ts` as parquet TIMESTAMP(NANOS) (r1-r3) and
  * TIMESTAMP(MICROS) NTZ (r4+). When it drifts again, these tests fail
  * loudly instead of silently dropping the 9 event-time correctness gates
  * (what happened in round 4). */
class EventTimeSpec extends SparkSpec {

  // 2024-01-01T00:00:01.5 UTC and an off-second instant with micros detail
  private val microsA = 1704067201500000L
  private val microsB = 1704070000123456L

  private def writeRead(dt: DataType): org.apache.spark.sql.DataFrame = {
    val dir = Files.createTempDirectory("evdrift").toFile
    dir.deleteOnExit()
    val df = spark.range(2).select(
      col("id").as("event_id"),
      when(col("id") === 0, microsA).otherwise(microsB).as("us"))
    val withTs = dt match {
      case TimestampNTZType =>
        // wall-clock arithmetic, so the fixture itself is tz-independent
        df.withColumn("ts", expr(
          "timestampadd(MICROSECOND, us, timestamp_ntz'1970-01-01 00:00:00')"))
      case TimestampType =>
        df.withColumn("ts", timestamp_micros(col("us")))
      case LongType =>
        df.withColumn("ts", col("us") * 1000L) // pre-converted nanos long
      case StringType =>
        df.withColumn("ts", date_format(timestamp_micros(col("us")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      case DoubleType =>
        df.withColumn("ts", (col("us") * lit(1e-6)).cast("double"))
      case other => fail(s"unhandled $other")
    }
    val path = s"$dir/events.parquet"
    withTs.drop("us").write.mode("overwrite").parquet(path)
    EventTime.readNanos(spark, dir.toString)
  }

  private def nanosOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq

  test("micros NTZ parquet (current testdata shape) → exact epoch nanos") {
    val got = writeRead(TimestampNTZType)
    assert(got.schema("ts").dataType == LongType)
    assert(nanosOf(got) == Seq(microsA * 1000, microsB * 1000))
  }

  test("UTC-adjusted timestamp parquet → exact epoch nanos") {
    assert(nanosOf(writeRead(TimestampType)) ==
      Seq(microsA * 1000, microsB * 1000))
  }

  test("long column (nanos) passes through untouched") {
    assert(nanosOf(writeRead(LongType)) == Seq(microsA * 1000, microsB * 1000))
  }

  test("ISO wall-clock STRING ts (a plausible drift) → exact epoch nanos") {
    assert(nanosOf(writeRead(StringType)) ==
      Seq(microsA * 1000, microsB * 1000))
  }

  test("garbage string ts throws at scan (ANSI cast), never silent nulls") {
    val dir = Files.createTempDirectory("evbad").toFile
    dir.deleteOnExit()
    spark.range(1).select(col("id").as("event_id"),
        lit("not-a-timestamp").as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    intercept[Exception] {
      EventTime.readNanos(spark, dir.toString).collect()
    }
  }

  test("unsupported ts type fails loudly, not silently") {
    val e = intercept[IllegalStateException] { writeRead(DoubleType).collect() }
    assert(e.getMessage.contains("unsupported"))
  }

  test("NTZ conversion is independent of the session timezone") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assert(nanosOf(writeRead(TimestampNTZType)) ==
        Seq(microsA * 1000, microsB * 1000))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("MILLIS-precision parquet (a plausible next drift) → exact nanos") {
    // a future regeneration could ship TIMESTAMP(MILLIS); Spark surfaces
    // it as the same TimestampNTZ/Timestamp types, so the conversion must
    // hold at millisecond precision too
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      val dir = Files.createTempDirectory("evmillis").toFile
      dir.deleteOnExit()
      val msA = microsA / 1000 * 1000 // truncate to millis precision
      val msB = microsB / 1000 * 1000
      spark.range(2).select(
          col("id").as("event_id"),
          when(col("id") === 0, msA).otherwise(msB).as("us"))
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = EventTime.readNanos(spark, dir.toString)
      assert(got.schema("ts").dataType == LongType)
      assert(nanosOf(got) == Seq(msA * 1000, msB * 1000))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
    }
  }

  test("readNanos restores the caller's nanosAsLong setting") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    try {
      writeRead(TimestampNTZType)
      assert(spark.conf.getOption(key) === Some("true"))
    } finally spark.conf.unset(key)
  }

  test("readNanos leaves an unset nanosAsLong unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    writeRead(TimestampNTZType)
    assert(!spark.conf.getAll.contains(key))
  }

  test("a real TIMESTAMP(NANOS) file reads exact nanos, caller conf untouched") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // sub-microsecond digits, which a MICROS read would drop
    val nanosA = 1704067201500000123L
    val nanosB = 1704070000123456789L
    val dir = Files.createTempDirectory("evnanos").toFile
    dir.deleteOnExit()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(
        s"$dir/events.parquet/part-00000.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try {
      val rows = new SimpleGroupFactory(schema)
      writer.write(rows.newGroup().append("event_id", 0L).append("ts", nanosA))
      writer.write(rows.newGroup().append("event_id", 1L).append("ts", nanosB))
    } finally writer.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val tags = spark.range(2).select(col("id").as("event_id"),
      concat(lit("tag"), col("id").cast("string")).as("tag"))
    for (callerValue <- Seq(None, Some("false"), Some("true"))) {
      callerValue.foreach(spark.conf.set(key, _))
      try {
        val before = spark.conf.getAll
        val ev = EventTime.readNanos(spark, dir.toString)
        assert(ev.sparkSession eq spark, s"caller $callerValue")
        assert(ev.schema("ts").dataType == LongType, s"caller $callerValue")
        assert(nanosOf(ev) == Seq(nanosA, nanosB), s"caller $callerValue")
        val joined = ev.join(tags, "event_id").orderBy("event_id")
          .select("event_id", "ts", "tag").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
        assert(joined == Seq((0L, nanosA, "tag0"), (1L, nanosB, "tag1")),
          s"caller $callerValue")
        assert(spark.conf.getAll == before, s"caller $callerValue")
      } finally spark.conf.unset(key)
    }
  }

  test("real testdata events read as longs in nanos range") {
    val ev = EventTime.readNanos(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType == LongType)
    val r = ev.agg(min("ts"), max("ts")).collect()(0)
    // testdata spans 2024; epoch-nanos magnitude ~1.7e18
    assert(r.getLong(0) > 1500000000L * 1000000000L &&
      r.getLong(1) < 2000000000L * 1000000000L)
  }
}
