package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet fixtures (schemas verified in
  * FIXTURES.md; the reference snapshot is empty — /root/reference/README.md:1
  * — so the fixture schemas are the authoritative data model).
  *
  * All loaders return plain DataFrames so Catalyst keeps full pushdown /
  * pruning freedom, and every downstream operator is written to survive
  * a partitioned object-store layout at 100 TB (no collect, no driver
  * loops).
  *
  * Schema memo: a bare `spark.read.parquet` launches a schema-inference
  * job on every open, and a session builds many queries over the same
  * few tables. `table` therefore infers each table's schema once and
  * opens it with `spark.read.schema(memoized).parquet(path)`, which plans
  * the same relation and launches no job. The memo is keyed by the
  * qualified path and stamped with every data file's length and
  * modification time (through the Hadoop FileSystem, so object-store
  * paths work) plus the session's set conf entries containing
  * `.parquet.` (nanosAsLong, binaryAsString, int96AsTimestamp,
  * inferTimestampNTZ, ...), which change what inference returns. It
  * holds one entry per path, replaced when the stamp changes. Only the
  * schema is memoized, never the DataFrame or relation: each open gets
  * fresh expression IDs, so two opens of one table stay independent
  * plans (a self-join of two loader calls resolves) and see the files
  * as they are at open time.
  */
object Tables {
  /** Exactness contract, enforced in code (round-18 ADVICE item 3): the
    * money-sum statements (agg_pricing_summary, sql_q1, sql_q22, ...)
    * accumulate integer micros in BIGINT — exact and order-free, but
    * finite: ~9.2e18 µ ≈ $9.2e12 per group. Under ANSI mode (the Spark
    * 4 default) an overflowing group raises ARITHMETIC_OVERFLOW —
    * pinned in LoaderSpec — the signal to lift that accumulator to
    * DECIMAL(38,0). A non-ANSI session would WRAP silently instead,
    * diverging from the oracle exactly in the 100 TB regime where the
    * oracle is never run, so it is refused here at the one choke point
    * every query passes through, rather than bounded only in a comment.
    * A precondition check, not a conf mutation — the consumer's session
    * config is not this library's to change (the events-loader rule). */
  private def requireAnsi(spark: SparkSession): Unit =
    require(spark.conf.get("spark.sql.ansi.enabled", "true").toBoolean,
      "graft: spark.sql.ansi.enabled=false lets the exact BIGINT " +
      "money-micros accumulators wrap silently past ~$9.2e12 per group; " +
      "enable ANSI mode (the Spark 4 default) so overflow fails loudly " +
      "with ARITHMETIC_OVERFLOW instead.")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    requireAnsi(spark)
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Qualified path → (stamp, inferred schema); see the header. */
  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()
  private final case class Stamp(files: Seq[(String, Long, Long)], conf: Map[String, String])

  /** The memoized schema of `path`. Inference runs outside any map lock
    * (it is a Spark job); two racing first opens may both infer, and the
    * later put wins with an equal value. A path with no status (missing,
    * or a glob) has nothing to stamp, so it is inferred unmemoized and
    * Spark raises its own PATH_NOT_FOUND for a missing one. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val key = fs.makeQualified(p).toString
    val stamp = try {
      val it = fs.listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(Stamp(files.result(), spark.conf.getAll.filter(_._1.contains(".parquet."))))
    } catch { case _: FileNotFoundException => None }
    Option(schemas.get(key)).filter(e => stamp.contains(e._1)).map(_._2).getOrElse {
      val inferred = spark.read.parquet(path).schema
      stamp.foreach(s => schemas.put(key, (s, inferred)))
      inferred
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The `events.ts` physical type has varied across fixture generations:
    * TIMESTAMP(NANOS,false) (Spark 4 refuses by default, [PARQUET_TYPE_ILLEGAL];
    * the legacy conf reads it as BIGINT nanos-since-epoch, SURVEY.md §7.3.1) or
    * plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). The loader normalizes
    * both to the same downstream contract: raw `ts` as bigint ns — what
    * oracled outputs must use; the DuckDB side is `epoch_ns(ts)`, which yields
    * identical ns for either physical type — plus `ts_us`, a micros real
    * timestamp for window()/session_window()/watermark operators.
    *
    * NOTE `ts div 1000` (integer division) — `ts / 1000` would go through
    * double and lose precision at 1.7e18 ns. The NTZ branch derives the
    * epoch offset with pure wall-clock arithmetic (`timestampdiff` between
    * NTZ operands — naive-as-UTC, DuckDB's `epoch_ns` convention) so the
    * loader is timezone-INDEPENDENT: it neither reads nor mutates
    * spark.sql.session.timeZone (a library consumer's session config is
    * not this loader's to change — the round-8 spelling set UTC as a
    * read-time side effect). */
  def events(s: SparkSession, d: String): DataFrame = {
    // Library posture (finishes what the round-9 timeZone fix started):
    // the loader NEVER mutates the consumer's session conf at read time.
    // A NANOS-generation fixture needs the legacy flag at session BUILD
    // time; if it's absent, schema inference throws Spark's
    // [PARQUET_TYPE_ILLEGAL] — rethrown here with the fix spelled out
    // instead of silently flipping read semantics for the consumer's
    // unrelated nanos-parquet reads.
    val raw = try table(s, d, "events") catch {
      case e: Exception if e.getMessage != null && e.getMessage.contains("NANOS") =>
        throw new IllegalArgumentException(
          "graft.Tables.events: this fixture generation wrote events.ts as " +
          "TIMESTAMP(NANOS) parquet, which Spark 4 refuses unless " +
          "spark.sql.legacy.parquet.nanosAsLong=true. Set it when BUILDING " +
          "the SparkSession (.config(\"spark.sql.legacy.parquet.nanosAsLong\", " +
          "\"true\")) — this loader deliberately does not set session conf " +
          "at read time.", e)
    }
    val ns = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        raw.withColumn("ts",
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000L"))
    }
    ns.withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
  }

  /** Scratch dir for sink/ingest round-trip operators. Outside the repo,
    * recreated per use; never read as an oracle input. */
  val scratchDir = "/tmp/graft_scratch"

  /** Recursive delete of a scratch layout — the ONE spelling of the
    * helper that had grown ~10 near-identical local copies (round-11
    * review finding; some of them NPE'd on a listFiles() race). Safe
    * on missing paths and race-emptied directories. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Content fingerprint (length ⊕ mtime ⊕ head/tail byte sample) of a
    * fixture table file. Keys derived scratch caches (ANN index, DPP
    * layout, embcos anchors) so a REGENERATED fixture can never be
    * served stale derived data from a surviving /tmp — a bare _DONE
    * marker alone would. The 16-byte sample (parquet footer bytes
    * change with content) covers the corner a same-length rewrite
    * within one mtime tick would otherwise slip through; a missing
    * fixture fails fast instead of fingerprinting as "0". */
  def fingerprint(d: String, table: String): String = {
    val f = new java.io.File(s"$d/$table.parquet")
    require(f.exists(), s"fixture not found: $f")
    val raf = new java.io.RandomAccessFile(f, "r")
    val sample = try {
      val bytes = new Array[Byte](16)
      raf.readFully(bytes, 0, 8)
      raf.seek(math.max(0L, f.length() - 8))
      raf.readFully(bytes, 8, 8)
      bytes.foldLeft(-3750763034362895579L) { (h, b) => (h ^ b) * 1099511628211L }
    } finally raf.close()
    java.lang.Long.toHexString(f.length() ^ (f.lastModified() * 1000003L) ^ sample)
  }
}
