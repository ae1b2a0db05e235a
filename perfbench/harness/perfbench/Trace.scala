package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's collector: a SparkListener for jobs, stages and
  * task metrics, a QueryExecutionListener for Catalyst phase times, and
  * the span tree run -> pass -> job -> {build, exec} -> Spark job ->
  * stage, all kept in memory and written out at exit.
  *
  * Every Spark job is attributed through the local properties the
  * harness sets before each phase (`perfbench.pass`, `.job`, `.module`,
  * `.phase`); stage and task totals roll up through their job. */
final class Trace extends SparkListener with QueryExecutionListener {
  final class StageAcc(val pass: Int, val module: String, val phase: String) {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var schedMs = 0L; var shuffleW = 0L; var shuffleR = 0L; var spill = 0L
    var inputRows = 0L; var scan = false
  }
  final case class SparkJob(id: Int, pass: Int, job: String, module: String,
                            phase: String)

  private val stageOwner = mutable.Map[Int, SparkJob]()
  private val jobOpen = mutable.Map[Int, (String, Long)]()
  val stages = mutable.Map[Int, StageAcc]()
  val jobs = mutable.ArrayBuffer[SparkJob]()
  /** (analysis, optimization, planning) ms per QueryExecution. */
  private val phases = mutable.ArrayBuffer[(Long, Long, Long)]()
  val spans = mutable.ArrayBuffer[String]()

  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  private def q(s: String): String = Json.str(s)
  def span(id: String, parent: String, kind: String, name: String,
           startUs: Long, endUs: Long): Unit = synchronized {
    spans += s"""{"id":${q(id)},"parent":${q(parent)},"kind":${q(kind)},"name":${q(name)},"start_us":$startUs,"end_us":$endUs}"""
  }

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(s"perfbench.$k"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val pass = scala.util.Try(prop(e.properties, "pass").toInt).getOrElse(-1)
    val j = SparkJob(e.jobId, pass, prop(e.properties, "job"),
      prop(e.properties, "module"), prop(e.properties, "phase"))
    jobs += j
    e.stageIds.foreach(s => stageOwner(s) = j)
    jobOpen(e.jobId) = (s"p$pass/${j.job}/${j.phase}", e.time * 1000L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (parent, startUs) =>
      span(s"sj${e.jobId}", parent, "spark_job", s"job ${e.jobId}", startUs, e.time * 1000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageOwner.get(si.stageId).foreach { j =>
      val acc = stages.getOrElseUpdate(si.stageId, new StageAcc(j.pass, j.module, j.phase))
      acc.scan = si.rddInfos.exists(_.name.contains("FileScan"))
      span(s"st${si.stageId}", s"sj${j.id}", "stage", si.name,
        si.submissionTime.getOrElse(0L) * 1000L, si.completionTime.getOrElse(0L) * 1000L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { j =>
      val a = stages.getOrElseUpdate(e.stageId, new StageAcc(j.pass, j.module, j.phase))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.shuffleR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.inputRows += m.inputMetrics.recordsRead
        a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    synchronized { phases += ((ms("analysis"), ms("optimization"), ms("planning"))) }
  }

  /** Catalyst phase seconds recorded since the last call (one pass). */
  def takePhases(): (Double, Double, Double) = synchronized {
    val t = (phases.map(_._1).sum / 1e3, phases.map(_._2).sum / 1e3, phases.map(_._3).sum / 1e3)
    phases.clear()
    t
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
