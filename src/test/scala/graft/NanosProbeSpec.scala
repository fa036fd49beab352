package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Events-table timestamp-layout handling. The on-disk `ts` layout is
  * the DRIVER'S choice and has changed across rounds — TIMESTAMP(NANOS)
  * (Spark 4 refuses to infer it without `nanosAsLong`; read ns longs,
  * integer-DIV to µs), then TIMESTAMP(MICROS)/NTZ. `ReferenceCatalog
  * .events` must adapt to whichever layout the file carries, always
  * return `ts` as TimestampType with identical values, and never leave
  * session-global conf behind. The NANOS fixture is written here with
  * parquet-java's example writer (Spark itself cannot emit a NANOS
  * footer), so the legacy layout stays covered even though the current
  * testdata is MICROS.
  */
class NanosProbeSpec extends SparkSpec {

  private val key = "spark.sql.legacy.parquet.nanosAsLong"
  // current driver layout (MICROS/NTZ as of round 7)
  private val dir = "/root/testdata/sf0.001"

  private lazy val nanosDir: String = NanosProbeSpec.nanosEventsDir()

  test("NANOS layout: events() truncates ns→µs and returns TimestampType") {
    spark.conf.unset(key)
    val df = graft.queries.ReferenceCatalog.events(spark, nanosDir)
    assert(df.schema("ts").dataType == TimestampType)
    val micros = df.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    val base = 1700000000L * 1000000L
    assert(micros == Seq(base, base + 123456L, base + 999999L))
    assert(spark.conf.get(key) == "false",
      "nanos inference window must not leak into the session")
  }

  test("MICROS/NTZ layout: events() casts to TimestampType, values preserved") {
    spark.conf.unset(key)
    val df = graft.queries.ReferenceCatalog.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    // UTC session: the NTZ→TZ cast is value-preserving vs the raw file
    val raw = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("want"))
    val joined = df.select(col("event_id"), col("ts"))
      .join(raw, "event_id")
    assert(joined.filter(col("ts") =!= col("want")).count() == 0)
    assert(joined.count() > 0)
    assert(spark.conf.get(key) == "false")
  }

  test("explicit long schema reads ts-as-INT64 without nanosAsLong conf") {
    spark.conf.unset(key)
    assert(spark.conf.get(key) == "false", "unset state = default false")
    val schema = new StructType().add("ts", LongType)
    val n = spark.read.schema(schema).parquet(s"$nanosDir/events.parquet")
      .filter("ts > 0").count()
    assert(n == 3)
    assert(spark.conf.get(key) == "false")
  }

  test("events-reading catalog queries leave session conf untouched") {
    // at-default going in → at-default coming out (execution happens
    // here too, i.e. AFTER the helper restored the conf)
    spark.conf.unset(key)
    val q = graft.SparkEntry.queries("x21_window_agg")
    assert(q(spark, dir).count() > 0)
    assert(spark.conf.get(key) == "false",
      "catalog query must not leak nanosAsLong into the session")
    // pre-set to true by the caller → still true coming out
    spark.conf.set(key, "true")
    assert(q(spark, dir).count() > 0)
    assert(spark.conf.get(key) == "true",
      "catalog query must restore the caller's prior conf value")
    spark.conf.unset(key)
  }
}

object NanosProbeSpec {
  /** A 3-row events.parquet with ts annotated TIMESTAMP(NANOS) — the
    * legacy driver layout. Returns the directory holding it. */
  def nanosEventsDir(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(
          /*adjustedToUTC*/ false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .required(PrimitiveTypeName.INT64).named("user_id")
      .named("events")
    val work = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$work/events.parquet"))
      .withType(schema).build()
    val fac = new SimpleGroupFactory(schema)
    // 1700000000s + {0, 123456789ns, 999999999ns}: the sub-µs residue
    // must truncate, not round
    Seq(0L, 123456789L, 999999999L).zipWithIndex.foreach { case (ns, i) =>
      val g = fac.newGroup()
      g.add("event_id", i.toLong)
      g.add("ts", 1700000000L * 1000000000L + ns)
      g.add("user_id", 7L)
      writer.write(g)
    }
    writer.close()
    work
  }
}
