package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** The benchmark's JVM side: one closed-loop client running one
  * workload's jobs in name order against one local session.
  *
  *   1. session start plus a first generic statement, repeated three
  *      times; the last session is kept;
  *   2. three untimed warm-up passes (the first also writes the outputs
  *      the check compares);
  *   3. timed passes until `--seconds` have elapsed; with `--trace 1`
  *      they alternate between traced and untraced;
  *   4. the output check: non-oracled jobs are counted again and must
  *      match the first pass; oracled outputs are left for the DuckDB
  *      compare;
  *   5. traced curate runs only: one cold `Warmup.all`.
  *
  * Everything measured goes to the JSON file named by `--out`. */
object Harness {
  private val MB = 1024.0 * 1024.0
  private val SessionStarts = 3

  final case class Args(workload: String, seconds: Double, trace: Boolean,
                        fixture: String, work: String, out: String, cpus: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seconds").toDouble, need("trace") == "1",
      need("fixture"), need("work"), need("out"), need("cpus").toInt)
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  /** Linear-interpolated percentile (the numpy default); 0 when empty. */
  private def percentile(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = r.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow(): Double = osBean.getProcessCpuTime / 1e9
  private def jitNow(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def classesNow(): Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString(",")
    catch { case _: Exception => "unavailable" }

  private def vmHwmMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  /** Points the engine's scratch root at `dir`, so the run's artifacts
    * and sink outputs stay in the benchmark's own directory. The root
    * is a plain val with no setting, so its backing field (static in
    * current Scala) is overwritten before first use; the return says
    * whether it took. */
  private def redirectScratch(dir: String): Boolean =
    try {
      val f = Tables.getClass.getDeclaredField("scratchDir")
      val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
      uf.setAccessible(true)
      val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
      if (java.lang.reflect.Modifier.isStatic(f.getModifiers))
        u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), dir)
      else u.putObject(Tables, u.objectFieldOffset(f), dir)
      Tables.scratchDir == dir
    } catch { case _: ReflectiveOperationException | _: RuntimeException => false }

  /** Empties the artifact namespace for a cold rebuild. When the scratch
    * root is the benchmark's own directory everything in it goes;
    * otherwise only entries naming the fixture's basename as a whole
    * `=`/`_`/`+`-delimited segment, so artifacts of any other fixture
    * in a shared root are never touched. */
  private def wipeScratch(own: Boolean, base: String): Unit =
    Option(new File(Tables.scratchDir).listFiles()).getOrElse(Array.empty)
      .filter(f => own || f.getName.stripPrefix(".").split("[=_+]").contains(base))
      .foreach(Tables.deleteRecursively)

  /** Bytes of ScratchParquet artifacts (`name=base=fp=version` dirs)
    * written since `sinceMs`. */
  private def artifactBytesSince(sinceMs: Long): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (f.lastModified() >= sinceMs) f.length() else 0L
    Option(new File(Tables.scratchDir).listFiles()).getOrElse(Array.empty)
      .filter(f => !f.getName.startsWith(".") && f.getName.split("=", -1).length == 4)
      .map(walk).sum
  }

  def main(argv: Array[String]): Unit = {
    val jvmBoot = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parse(argv)
    val loadStart = loadavg()
    val ownScratch = redirectScratch(s"${a.work}/scratch")
    // resolves every name and module before any session starts
    val jobs = Workloads.jobs(a.workload)
    val trace = if (a.trace) Some(new Trace) else None
    val runStartUs = trace.map(_.nowUs()).getOrElse(0L)

    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[${a.cpus}]")
        .config("spark.sql.shuffle.partitions", a.cpus.toString)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // 1. session start plus a generic first statement, repeated; the
    //    last cycle's session is the one measured
    var spark: SparkSession = null
    val sessionCycles = (1 to SessionStarts).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.range(100).groupBy(org.apache.spark.sql.functions.expr("id % 7")).count()
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext

    val failures = mutable.LinkedHashMap[String, String]()
    def fail(job: String, e: Throwable): Unit =
      if (!failures.contains(job))
        failures(job) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

    def props(pass: Int, job: String, module: String, phase: String): Unit = {
      sc.setLocalProperty("perfbench.pass", pass.toString)
      sc.setLocalProperty("perfbench.job", job)
      sc.setLocalProperty("perfbench.module", module)
      sc.setLocalProperty("perfbench.phase", phase)
    }

    final case class JobTime(name: String, module: String, build: Double, exec: Double)
    final case class Pass(idx: Int, wall: Double, cpu: Double, jit: Double, classes: Long,
                          traced: Boolean,
                          times: Seq[JobTime], catalyst: (Double, Double, Double),
                          open: (Double, Int))

    val checkDir = s"${a.work}/check"
    Tables.deleteRecursively(new File(checkDir))
    val rowCounts = mutable.LinkedHashMap[String, Seq[Long]]()
    def record(j: Job, n: Long): Unit = rowCounts(j.name) = rowCounts.getOrElse(j.name, Nil) :+ n
    /** The first pass's sink: oracled results go to parquet for the
      * DuckDB compare, the others are counted. */
    def dump(j: Job, df: DataFrame): Unit =
      if (j.oracled) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/${j.name}")
      else record(j, df.count())
    def noop(j: Job, df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def runPass(idx: Int, traced: Boolean, sink: (Job, DataFrame) => Unit = noop): Pass = {
      val t = trace.filter(_ => traced)
      var open = (0.0, 0)
      t.foreach { t =>
        sc.addSparkListener(t)
        spark.listenerManager.register(t)
        // timed Tables.table calls, outside the pass's wall time
        props(idx, "Tables.open", "Tables", "open")
        val jobs0 = t.synchronized(t.jobs.size)
        val t0 = System.nanoTime()
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
          .foreach(n => Tables.table(spark, a.fixture, n))
        val openS = (System.nanoTime() - t0) / 1e9
        val openEndUs = t.nowUs()
        t.span(s"p$idx/Tables.open/open", s"p$idx", "open", "Tables.open",
          openEndUs - (openS * 1e6).toLong, openEndUs)
        PerfbenchBus.drain(sc)
        open = (openS, t.synchronized(t.jobs.size) - jobs0)
        t.takePhases()
      }
      var analysisS = 0.0
      val passStartUs = t.map(_.nowUs()).getOrElse(0L)
      val cpu0 = cpuNow()
      val jit0 = jitNow()
      val classes0 = classesNow()
      val t0 = System.nanoTime()
      val times = jobs.flatMap { j =>
        try {
          val jStartUs = t.map(_.nowUs()).getOrElse(0L)
          props(idx, j.name, j.module, "build")
          val b0 = System.nanoTime()
          val df: DataFrame = j.build(spark, a.fixture)
          val b1 = System.nanoTime()
          props(idx, j.name, j.module, "exec")
          sink(j, df)
          val b2 = System.nanoTime()
          t.foreach { t =>
            // the DataFrame's own analysis runs at construction, before
            // the write's QueryExecution the listener sees
            analysisS += df.queryExecution.tracker.phases.get("analysis")
              .map(_.durationMs).getOrElse(0L) / 1e3
            val id = s"p$idx/${j.name}"
            val mid = jStartUs + (b1 - b0) / 1000L
            val end = jStartUs + (b2 - b0) / 1000L
            t.span(id, s"p$idx", "job", j.name, jStartUs, end)
            t.span(s"$id/build", id, "build", j.name, jStartUs, mid)
            t.span(s"$id/exec", id, "exec", j.name, mid, end)
          }
          Some(JobTime(j.name, j.module, (b1 - b0) / 1e9, (b2 - b1) / 1e9))
        } catch {
          case e: Exception => fail(j.name, e); None
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val jit = jitNow() - jit0
      // the JIT compiler's time is left out: it is still falling steeply
      // during the timed passes and spread cpu_s ~20% between runs; it
      // is reported on its own as jvm.jit_s
      val cpu = cpuNow() - cpu0 - jit
      val classes = classesNow() - classes0
      var catalyst = (0.0, 0.0, 0.0)
      t.foreach { t =>
        t.span(s"p$idx", "run", "pass", s"pass $idx", passStartUs, t.nowUs())
        PerfbenchBus.drain(sc)
        val (an, op, pl) = t.takePhases()
        catalyst = (an + analysisS, op, pl)
        sc.removeSparkListener(t)
        spark.listenerManager.unregister(t)
      }
      Pass(idx, wall, cpu, jit, classes, traced, times, catalyst, open)
    }

    // 2. warm-up passes, untimed and counted in setup. The first does
    //    the JIT and codegen warm-up, builds the artifacts and session
    //    caches the jobs create on first use, and writes the outputs the
    //    check compares; the other two are plain passes, because with one
    //    warm-up pass the timed passes still ran ~20% slower at the start
    //    than at the end while the JIT caught up.
    val warmStartMs = System.currentTimeMillis()
    val warmStart = System.nanoTime()
    runPass(0, traced = false, sink = dump)
    runPass(0, traced = false)
    runPass(0, traced = false)
    val warmPasses = (System.nanoTime() - warmStart) / 1e9
    val warmArtifactBytes = artifactBytesSince(warmStartMs)

    // 3. timed passes; a traced run alternates traced and untraced ones
    val passes = mutable.ArrayBuffer[Pass]()
    val tEnd = System.nanoTime() + (a.seconds * 1e9).toLong
    while (passes.isEmpty || System.nanoTime() < tEnd || (a.trace && passes.size < 2)) {
      val idx = passes.size + 1
      passes += runPass(idx, traced = a.trace && idx % 2 == 1)
    }
    props(-1, "", "", "")

    // 4. output check, untimed: every non-oracled job is counted once
    //    more and must match the first pass; the oracled outputs are
    //    compared with DuckDB by the caller
    val checkStart = System.nanoTime()
    for (j <- jobs if !j.oracled && !failures.contains(j.name)) try {
      record(j, j.build(spark, a.fixture).count())
      val counts = rowCounts(j.name)
      if (counts.distinct.size != 1)
        failures(j.name) = s"row count differs between passes: $counts"
    } catch { case e: Exception => fail(j.name, e) }
    val oracled = jobs.filter(j => j.oracled && !failures.contains(j.name)).map(_.name)
    if (oracled.nonEmpty) {
      val sql = SparkEntry.oracleSql
      Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
        Json(oracled.map(n => n -> sql(n)).toMap))
    }
    val checkS = (System.nanoTime() - checkStart) / 1e9

    // 5. traced curate run only: the whole artifact inventory, cold, in
    //    an emptied namespace and a fresh session (the session memo keys
    //    on the session), for the per-step build costs
    val coldWarmup =
      if (a.trace && a.workload == "curate") {
        wipeScratch(ownScratch, new File(a.fixture).getName)
        val t0 = System.currentTimeMillis()
        val steps = graft.Warmup.all(spark.newSession(), a.fixture)
        steps.collect { case (n, _, false) => n }.foreach(n =>
          failures.getOrElseUpdate("Warmup.all", s"step $n failed"))
        Some((steps, artifactBytesSince(t0)))
      } else None

    // metrics
    val untraced = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val samples = untraced.flatMap(_.times.map(t => t.build + t.exec))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload,
      "cpus" -> a.cpus,
      "scratch_redirected" -> ownScratch,
      "jvm_boot_s" -> jvmBoot,
      "session_cycles_s" -> sessionCycles,
      "warm_passes_s" -> warmPasses,
      "check_s" -> checkS,
      "passes" -> passes.map(p => Map("wall_s" -> p.wall, "cpu_s" -> p.cpu, "jit_s" -> p.jit,
        "classes_loaded" -> p.classes, "traced" -> p.traced)),
      "setup_s" -> (jvmBoot + median(sessionCycles) + warmPasses),
      "batch_s" -> median(untraced.map(_.wall)),
      "cpu_s" -> median(untraced.map(_.cpu)),
      "job_p50_s" -> percentile(samples, 0.5),
      "job_p90_s" -> percentile(samples, 0.9),
      "job_samples" -> samples.size,
      "job_median_s" -> jobs.map(j => j.name -> median(untraced.flatMap(
        _.times.filter(_.name == j.name).map(t => t.build + t.exec)))).toMap,
      "rss_peak_mb" -> vmHwmMb(),
      "jobs" -> jobs.map(_.name),
      "attempted" -> (jobs.size + coldWarmup.size),
      "failures" -> failures,
      "row_counts" -> rowCounts,
      "oracled" -> oracled,
      "check_dir" -> checkDir,
      "loadavg_start" -> loadStart,
      "loadavg_end" -> loadavg(),
    )

    trace.foreach { t =>
      val layer = mutable.LinkedHashMap[String, Double]()
      // each per-pass value is the median over the traced passes
      def med(f: Pass => Double): Double = median(traced.map(f))
      def stagesOf(p: Pass) = t.stages.values.filter(s => s.pass == p.idx && s.phase != "open")
      def jobsOf(p: Pass) = t.jobs.filter(_.pass == p.idx)
      def buildJobs(p: Pass, module: String) =
        jobsOf(p).count(j => j.module == module && j.phase == "build").toDouble
      for (m <- Workloads.modules) {
        layer(s"$m.build_s") = med(_.times.filter(_.module == m).map(_.build).sum)
        layer(s"$m.build_jobs") = med(buildJobs(_, m))
        layer(s"$m.exec_s") = med(_.times.filter(_.module == m).map(_.exec).sum)
        layer(s"$m.cpu_s") = med(p => stagesOf(p).filter(_.module == m).map(_.cpuNs).sum / 1e9)
        layer(s"$m.shuffle_mb") = med(p => stagesOf(p).filter(_.module == m).map(_.shuffleW).sum / MB)
      }
      layer("Tables.open_s") = med(_.open._1)
      layer("Tables.open_jobs") = med(_.open._2.toDouble)
      layer("catalyst.analysis_s") = med(_.catalyst._1)
      layer("catalyst.optimization_s") = med(_.catalyst._2)
      layer("catalyst.planning_s") = med(_.catalyst._3)
      layer("exec.stages") = med(stagesOf(_).size.toDouble)
      layer("exec.tasks") = med(stagesOf(_).map(_.tasks).sum.toDouble)
      layer("exec.scan_tasks") = med(stagesOf(_).filter(_.scan).map(_.tasks).sum.toDouble)
      layer("exec.task_cpu_s") = med(stagesOf(_).map(_.cpuNs).sum / 1e9)
      layer("exec.sched_delay_s") = med(stagesOf(_).map(_.schedMs).sum / 1e3)
      layer("exec.gc_s") = med(stagesOf(_).map(_.gcMs).sum / 1e3)
      layer("exec.core_util") = med(p => stagesOf(p).map(_.runMs).sum / 1e3 / (a.cpus * p.wall))
      layer("exec.shuffle_write_mb") = med(stagesOf(_).map(_.shuffleW).sum / MB)
      layer("exec.shuffle_read_mb") = med(stagesOf(_).map(_.shuffleR).sum / MB)
      layer("exec.spill_mb") = med(stagesOf(_).map(_.spill).sum / MB)
      layer("exec.input_rows") = med(stagesOf(_).map(_.inputRows).sum.toDouble)
      layer("jvm.jit_s") = med(_.jit)
      layer("jvm.classes_loaded") = med(_.classes.toDouble)
      layer("jvm.rss_peak_mb") = vmHwmMb()
      layer("setup.artifact_mb") = warmArtifactBytes / MB
      coldWarmup.foreach { case (steps, bytes) =>
        steps.foreach { case (n, s, _) => layer(s"Warmup.${n}_s") = s }
        layer("ScratchParquet.write_mb") = bytes / MB
      }
      for (j <- jobs if j.module == "GraftOps")
        layer(s"${j.name}_s") = med(_.times.filter(_.name == j.name).map(x => x.build + x.exec).sum)
      layer("GraftOps.build_jobs") = med(buildJobs(_, "GraftOps"))
      layer("trace.overhead_s") = median(traced.map(_.wall)) - median(untraced.map(_.wall))
      result("per_layer") = layer
      t.span("run", "", "run", a.workload, runStartUs, t.nowUs())
      val spansFile = s"${a.work}/spans.jsonl"
      Files.writeString(Paths.get(spansFile), t.spans.mkString("", "\n", "\n"))
      result("spans_file") = spansFile
    }

    spark.stop()
    Files.writeString(Paths.get(a.out), Json(result))
  }
}
