package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, workDir: String)

/** What one measured loop of a workload produced. `opMs` are the latencies
  * of the workload's repeated operation; `layer` holds the operator-level
  * figures the loop itself observed. */
final case class Measured(opMs: Seq[Double], rowsPerS: Double, diskBytesPerUserByte: Double,
                          layer: Map[String, Double] = Map.empty)

/** Shared state of one benchmark process: the Spark session, the tracer,
  * and the count of attempted and failed operations. */
final class Ctx(val cfg: Config) {
  var spark: SparkSession = _
  var tracer: Tracer = new Tracer(false)
  var probe: Option[SparkProbe] = None
  var attempted = 0L
  var failed = 0L
  private var opFailed = false
  /** Latencies of alternating loops in a traced run, traced and untraced. */
  val tracedMs = ArrayBuffer.empty[Double]
  val plainMs = ArrayBuffer.empty[Double]

  def seed: Long = cfg.seed
  def cores: Int = cfg.cores
  def dataDir(name: String): String = s"${cfg.workDir}/data/$name"

  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"${cfg.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.workDir}/warehouse")
      // bounded status history, as a long-running service would keep, so
      // the retained heap does not grow with the number of operations run
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  def stopSession(): Unit = {
    tracingOff()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Registers the listener and routes job groups from open spans. */
  def tracingOn(): Unit = {
    val sc = spark.sparkContext
    tracer = new Tracer(true, {
      case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    })
    val p = new SparkProbe(tracer)
    sc.addSparkListener(p)
    probe = Some(p)
  }

  def tracingOff(): Unit = {
    probe.foreach { p =>
      SparkProbe.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(p)
    }
    probe = None
    tracer = new Tracer(false)
  }

  /** Records a failed correctness check against the current operation. */
  def expect(cond: Boolean, what: => String): Unit =
    if (!cond) {
      opFailed = true
      System.err.println(s"CHECK FAILED [${cfg.workload}]: $what")
    }

  /** One attempted operation. An exception or a failed check inside counts
    * it as failed; the result is None when it threw. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    opFailed = false
    val r =
      try Some(body)
      catch {
        case NonFatal(e) =>
          expect(cond = false, s"${e.getClass.getName}: ${e.getMessage}")
          None
      }
    if (opFailed) failed += 1
    r
  }

  /** Closed loop with one client: runs `one(j)` (returning its latency in
    * ms, None on failure) until `budgetS` seconds have passed and at least
    * `minOps` ran, stopping at `maxOps`. With `alternate`, a traced run
    * traces every other operation only, so traced and untraced latencies
    * come from the same warm process and give the tracing overhead. */
  def closedLoop(budgetS: Double, minOps: Int, maxOps: Int, alternate: Boolean = false)
                (one: Int => Option[Double]): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[Double]
    var j = 0
    while (j < maxOps && (j < minOps || (System.nanoTime() - t0) / 1e9 < budgetS)) {
      val traced = tracer.enabled && (!alternate || j % 2 == 1)
      tracer.active = traced
      val r = one(j)
      tracer.active = tracer.enabled
      r.foreach { ms =>
        out += ms
        if (alternate && tracer.enabled) (if (traced) tracedMs else plainMs) += ms
      }
      j += 1
    }
    out.toSeq
  }
}

object Harness {
  private val t0 = System.nanoTime()

  /** Progress line on stderr, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")

  /** CPUs the OS lets this process run on (Linux's `Cpus_allowed_list`,
    * as `nproc` counts them), when the system reports it. */
  def allowedCpus(): Option[Int] = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.isReadable(status)) None
    else {
      val lines = java.nio.file.Files.readAllLines(status).toArray(Array.empty[String])
      lines.find(_.startsWith("Cpus_allowed_list:")).map { l =>
        l.stripPrefix("Cpus_allowed_list:").trim.split(",").map { r =>
          r.split("-") match {
            case Array(a, b) => b.trim.toInt - a.trim.toInt + 1
            case _ => 1
          }
        }.sum
      }
    }
  }

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Every physical operator of an executed query, through adaptive
    * execution's wrappers. */
  def operators(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Sum of one SQL metric over the operators of a class name. */
  def metricSum(df: DataFrame, nodeClass: String, metric: String): Long =
    operators(df).filter(_.getClass.getSimpleName == nodeClass)
      .flatMap(_.metrics.get(metric)).map(_.value).sum

  /** Bytes of every regular file under `dir`. */
  def diskBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }

  def parquetFiles(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }

  /** Raw bytes of the rows' values (see [[Gen.UserBytesSql]]). */
  def userBytes(df: DataFrame): Long =
    df.selectExpr(s"sum(${Gen.UserBytesSql})").head().getLong(0)

  /** Heap retained after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
