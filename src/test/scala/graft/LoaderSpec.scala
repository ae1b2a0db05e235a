package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Both events-loader physical-type branches, exercised against tiny
  * in-test parquet files (round-9 verdict item 3: the TIMESTAMP(NANOS)
  * branch went dead code when the driver regenerated the fixture as
  * micros mid-round-7 — and that regeneration is exactly the kind of
  * flip that must not silently break a branch again).
  *
  * The nanos file is written with parquet-mr's Group API
  * (ExampleParquetWriter) because Spark cannot author
  * TIMESTAMP(NANOS,false) itself; the micros file is a plain Spark
  * TIMESTAMP_NTZ write. Same instants in both → the loader must yield
  * IDENTICAL (ts: bigint ns, ts_us: timestamp micros) from either,
  * and must do so independent of spark.sql.session.timeZone (the
  * round-8 NTZ branch mutated it as a read-time side effect; the
  * round-9 spelling is pure wall-clock arithmetic). */
class LoaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // micros-representable instants spanning pre/post-epoch is NOT needed:
  // fixture ids are epoch-positive; still include one sub-second value
  private val instantsUs: Seq[Long] = Seq(
    0L,                       // the epoch itself
    123456L,                  // sub-second
    1700000000123456L,        // a modern instant with micros precision
    1893456000000000L)        // 2030-01-01, ahead of any fixture row

  private def writeNanos(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageTypeParser, Types, PrimitiveType}
    val schema = Types.buildMessage()
      .addField(Types.required(PrimitiveType.PrimitiveTypeName.INT64)
        .named("event_id"))
      .addField(Types.required(PrimitiveType.PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts"))
      .named("events")
    new java.io.File(dir).mkdirs()
    new java.io.File(s"$dir/events.parquet").delete() // scratch survives JVMs
    val path = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val conf = new org.apache.hadoop.conf.Configuration()
    val writer = ExampleParquetWriter.builder(path).withConf(conf)
      .withType(schema).build()
    val fac = new SimpleGroupFactory(schema)
    try instantsUs.zipWithIndex.foreach { case (us, i) =>
      val g = fac.newGroup()
      g.add("event_id", i.toLong)
      g.add("ts", us * 1000L) // nanos physical
      writer.write(g)
    } finally writer.close()
  }

  private def writeMicros(dir: String): Unit = {
    val sp = spark
    import sp.implicits._
    instantsUs.zipWithIndex.map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
      .select(col("event_id"),
        expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def load(dir: String): Seq[(Long, Long, Long)] =
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), unix_micros(col("ts_us")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq

  test("nanos and micros physical types normalize to one contract") {
    val base = s"${Tables.scratchDir}/loader_spec"
    writeNanos(s"$base/nanos")
    writeMicros(s"$base/micros")
    val expected = instantsUs.zipWithIndex
      .map { case (us, i) => (i.toLong, us * 1000L, us) }
    assert(load(s"$base/nanos") == expected, "TIMESTAMP(NANOS) branch")
    assert(load(s"$base/micros") == expected, "TIMESTAMP(MICROS/NTZ) branch")
  }

  test("NTZ branch is session-timezone independent and mutation-free") {
    val base = s"${Tables.scratchDir}/loader_spec"
    writeMicros(s"$base/micros_tz")
    val before = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu") // +05:45
      val got = load(s"$base/micros_tz")
      val expected = instantsUs.zipWithIndex
        .map { case (us, i) => (i.toLong, us * 1000L, us) }
      assert(got == expected, "ts must be wall-clock-as-UTC ns regardless of tz")
      assert(spark.conf.get("spark.sql.session.timeZone") == "Asia/Kathmandu",
        "loader must not mutate the session timezone")
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("consumer session without the nanos flag: fail-fast, never a conf mutation") {
    // round-10 verdict item 3: the loader used to set
    // spark.sql.legacy.parquet.nanosAsLong=true at read time — a silent
    // semantic change for the consumer's unrelated nanos-parquet reads.
    // Posture now: micros fixtures load fine without the flag; a nanos
    // fixture fails fast with the session-build fix spelled out; and in
    // BOTH cases the consumer's conf is left exactly as found.
    val base = s"${Tables.scratchDir}/loader_spec"
    writeNanos(s"$base/nanos_consumer")
    writeMicros(s"$base/micros_consumer")
    val consumer = spark.newSession() // own SQLConf; TestSpark untouched
    consumer.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert(consumer.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")

    // micros generation: loads with no flag, same contract
    val got = Tables.events(consumer, s"$base/micros_consumer")
      .select(col("event_id"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == instantsUs.zipWithIndex.map { case (us, i) => (i.toLong, us * 1000L) })

    // nanos generation: fail fast with the build-time fix in the message
    val e = intercept[IllegalArgumentException] {
      Tables.events(consumer, s"$base/nanos_consumer")
    }
    assert(e.getMessage.contains("nanosAsLong"), e.getMessage)
    assert(e.getMessage.contains("BUILDING"), e.getMessage)

    // and the loader never wrote the flag behind the consumer's back
    assert(consumer.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false",
      "loader must not mutate the consumer session's conf")
  }

  test("money-micros accumulator: overflow throws, never wraps (r18 advice 3)") {
    // The exact idiom every money statement uses (agg_pricing_summary,
    // sql_q1, sql_q22...): sum of CAST(floor(x·1e6 + 0.5) AS BIGINT).
    // Under the session's ANSI mode an overflowing group must raise
    // ARITHMETIC_OVERFLOW — the in-code guard of the ~$9.2e12-per-group
    // bound; silent wrap would diverge from the DuckDB oracle (HUGEINT
    // accumulation) precisely where the oracle is never run.
    assert(spark.conf.get("spark.sql.ansi.enabled").toBoolean,
      "the exactness contract assumes the Spark 4 ANSI default")
    // SparkArithmeticException extends ArithmeticException, and may or
    // may not arrive wrapped in a SparkException depending on where the
    // task fails — walk the cause chain for the error class
    val e = intercept[Exception] {
      spark.sql(
        """SELECT sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT))
           FROM VALUES (9.2e12), (9.2e12) t(x)""").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains("ARITHMETIC_OVERFLOW")),
      s"overflow must fail loudly, got: ${msgs.mkString(" | ").take(300)}")
    // the same statement inside the bound stays exact
    val ok = spark.sql(
      """SELECT sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS u
         FROM VALUES (0.1), (0.2) t(x)""").collect()(0).getLong(0)
    assert(ok == 300000L)
  }

  test("non-ANSI session is refused at the table choke point (r18 advice 3)") {
    val consumer = spark.newSession()
    consumer.conf.set("spark.sql.ansi.enabled", "false")
    val e = intercept[IllegalArgumentException] {
      Tables.lineitem(consumer, TestSpark.sf)
    }
    assert(e.getMessage.contains("ansi"), e.getMessage)
    assert(e.getMessage.contains("wrap"), e.getMessage)
    // the check is a precondition, not a mutation
    assert(consumer.conf.get("spark.sql.ansi.enabled") == "false",
      "the guard must not flip the consumer's conf")
    consumer.conf.set("spark.sql.ansi.enabled", "true")
    assert(Tables.lineitem(consumer, TestSpark.sf).columns.nonEmpty)
  }

  /** Spark jobs started while `body` runs. Listener events are delivered
    * in order, so the jobs between a leading and a trailing marker job
    * are exactly the ones `body` started, whatever was still queued when
    * the listener was added. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(m: String): Unit = {
      sc.setJobDescription(m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      marker("loader-spec-start")
      val out = body
      marker("loader-spec-end")
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains("loader-spec-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      val jobs = seen.asScala.toSeq
      assert(jobs.contains("loader-spec-end"), "marker job never reached the listener")
      (out, jobs.dropWhile(_ != "loader-spec-start").indexOf("loader-spec-end") - 1)
    } finally sc.removeSparkListener(l)
  }

  /** A single-file parquet table with int64 columns c0..c(n-1), written in
    * place over any previous version (the fixture layout). */
  private def writeWide(file: String, n: Int): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{Types, PrimitiveType}
    val b = Types.buildMessage()
    (0 until n).foreach(i =>
      b.addField(Types.required(PrimitiveType.PrimitiveTypeName.INT64).named(s"c$i")))
    val schema = b.named("t")
    new java.io.File(file).getParentFile.mkdirs()
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withConf(new org.apache.hadoop.conf.Configuration())
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      (0 until n).foreach(i => g.add(s"c$i", i.toLong))
      writer.write(g)
    } finally writer.close()
  }

  test("schema memo: a second open runs no job, and two opens still self-join") {
    val first = Tables.nation(spark, TestSpark.sf)
    val (second, jobs) = jobsDuring(Tables.nation(spark, TestSpark.sf))
    assert(jobs == 0, "a second open of an unchanged table must not infer again")
    assert(second.schema == first.schema)
    // the memo holds the schema, never the DataFrame: two opens are
    // independent plans, so a self-join resolves exactly as two plain reads
    val a = Tables.nation(spark, TestSpark.sf)
    val b = Tables.nation(spark, TestSpark.sf)
    val got = a.join(b, a("n_regionkey") === b("n_nationkey")).count()
    val pa = spark.read.parquet(s"${TestSpark.sf}/nation.parquet")
    val pb = spark.read.parquet(s"${TestSpark.sf}/nation.parquet")
    assert(got == pa.join(pb, pa("n_regionkey") === pb("n_nationkey")).count())
    assert(got == a.count(), "every region key is a nation key")
  }

  test("schema memo: a table rewritten in place is never served a stale schema") {
    val dir = s"${Tables.scratchDir}/loader_spec/stale"
    writeWide(s"$dir/t.parquet", 2)
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("c0", "c1"))
    writeWide(s"$dir/t.parquet", 3)
    val df = Tables.table(spark, dir, "t")
    assert(df.columns.toSeq == Seq("c0", "c1", "c2"))
    assert(df.collect().map(_.toSeq).toSeq == Seq(Seq(0L, 1L, 2L)))
  }

  test("schema memo: keyed by parquet conf, so the nanos fail-fast survives a warm memo") {
    // the SAME nanos path, first read by the flagged session: a memo keyed
    // by path and file stamp alone would then serve ts:bigint to a session
    // that must refuse the file
    val base = s"${Tables.scratchDir}/loader_spec/nanos_shared"
    writeNanos(base)
    assert(Tables.table(spark, base, "events").schema("ts").dataType == LongType)
    val consumer = spark.newSession()
    consumer.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val e = intercept[IllegalArgumentException](Tables.events(consumer, base))
    assert(e.getMessage.contains("BUILDING"), e.getMessage)
  }

  test("a missing table still raises Spark's PATH_NOT_FOUND") {
    val e = intercept[AnalysisException] {
      Tables.table(spark, TestSpark.sf, "no_such_table")
    }
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }
}
