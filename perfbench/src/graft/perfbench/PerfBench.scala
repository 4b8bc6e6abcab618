package graft.perfbench

import graft.model.Doc
import graft.pipeline.{GraftConfig, Pipeline}
import graft.synth.Corpus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The benchmark program. One invocation runs one workload, either timed
  * (end-to-end metrics) or traced (per-layer metrics), and writes one JSON
  * result file that `perfbench/run.py` checks and prints.
  *
  *   graft.perfbench.PerfBench --workload <batch|batch_skew|lifecycle|sweep>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *
  * Spark runs on `local[<cores>]`, cores being the processors the JVM may
  * use (cgroup quotas and CPU affinity included).
  */
object PerfBench {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, out: String) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed} on local[${a.cores}]")
    val res = new Result
    val wl: Workload = a.workload match {
      case "batch" => new BatchWorkload(a, res, skew = false)
      case "batch_skew" => new BatchWorkload(a, res, skew = true)
      case "lifecycle" => new LifecycleWorkload(a, res)
      case "sweep" => new SweepWorkload(a, res)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    try {
      if (a.trace) wl.traced() else wl.timed()
    } catch {
      case e: Throwable =>
        res.fail(s"${a.workload} aborted: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        e.printStackTrace()
    } finally {
      wl.stop()
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), res.toJson)
    System.exit(0)
  }
}

/** Everything a run reports: metrics, operation/check tallies, and the
  * extra sections the checker and the trace artifact need.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val sections = mutable.LinkedHashMap.empty[String, String] // name -> raw JSON

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail)); op(ok)
    System.err.println(s"[perfbench] check ${if (ok) "ok  " else "FAIL"} $name $detail")
  }
  def fail(msg: String): Unit = check("error", ok = false, msg)

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}")
    val cs = checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString("[", ",", "]")
    val extra = sections.map { case (k, v) => s",${Json.str(k)}:$v" }.mkString
    s"""{"attempted":$attempted,"failed":$failed,"metrics":$ms,"checks":$cs$extra}"""
  }
}

object Json {
  def str(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Shared session handling, timing and set-up repetition. */
abstract class Workload(val a: PerfBench.Args, val res: Result) {
  /** shuffle width: two tasks per core, the small-corpus analog of the
    * fixed 64 the operator harness uses at sf0.1 */
  val partitions: Int = 2 * a.cores
  val setupReps = 3
  var spark: SparkSession = _
  var tracer: Tracer = _

  def startSession(): Unit = {
    stop()
    spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.default.parallelism", partitions.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${a.work}/spark-checkpoints")
    tracer = new Tracer(spark.sparkContext, s"${a.workload}-${a.seed}")
  }

  def stop(): Unit = if (spark != null) {
    tracer.close()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timedS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, secs(t0))
  }

  /** Runs `prepare` `setupReps` times (each in a fresh Spark application)
    * and records the median as `setup_s`; the last repetition's state is
    * the one the workload measures.
    */
  def setup(prepare: () => Unit): Unit = {
    val times = (1 to setupReps).map { _ =>
      val t0 = System.nanoTime()
      startSession()
      prepare()
      secs(t0)
    }
    System.err.println(f"[perfbench] setup reps: ${times.map(t => f"$t%.2f").mkString(" ")}")
    res.metric("setup_s", Stats.median(times), "s")
  }

  /** Runs `op` until the measuring window has passed (at least `minOps`
    * times), returning per-op seconds.
    */
  def loop(minOps: Int)(op: Int => Double): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (out.length < minOps || secs(t0) < a.seconds) out += op(out.length)
    System.err.println(f"[perfbench] ops: ${out.map(t => f"$t%.3f").mkString(" ")}")
    out.toSeq
  }

  def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  def spanMetrics(prefix: String, sp: Span, keys: Seq[String]): Unit = {
    val st = tracer.statsOf(sp)
    keys.foreach {
      case "wall_s" => res.metric(s"$prefix.wall_s", sp.wallS, "s")
      case "task_s" => res.metric(s"$prefix.task_s", st.taskS, "s")
      case "jobs" => res.metric(s"$prefix.jobs", st.jobs, "count")
      case "shuffle_write_mb" => res.metric(s"$prefix.shuffle_write_mb", mb(st.shuffleWriteBytes), "MB")
      case "shuffle_read_mb" => res.metric(s"$prefix.shuffle_read_mb", mb(st.shuffleReadBytes), "MB")
      case "spill_mb" => res.metric(s"$prefix.spill_mb", mb(st.spillBytes), "MB")
      case "task_skew" => res.metric(s"$prefix.task_skew", st.skew, "ratio")
      case "busy_frac" => res.metric(s"$prefix.busy_frac", st.taskS / math.max(sp.wallS * a.cores, 1e-9), "ratio")
    }
  }

  /** The trace artifact: every span with its Spark counters. */
  def recordSpans(): Unit = {
    val spans = tracer.all.map { sp =>
      val st = tracer.statsOf(sp)
      Json.obj(Seq(
        "id" -> sp.id.toString, "name" -> Json.str(sp.name),
        "parent" -> sp.parent.map(_.toString).getOrElse("null"),
        "run_id" -> Json.str(sp.runId),
        "start_ns" -> sp.startNs.toString, "end_ns" -> sp.endNs.toString,
        "wall_s" -> Json.num(sp.wallS), "jobs" -> st.jobs.toString, "tasks" -> st.tasks.toString,
        "task_s" -> Json.num(st.taskS), "shuffle_read_bytes" -> st.shuffleReadBytes.toString,
        "shuffle_write_bytes" -> st.shuffleWriteBytes.toString, "spill_bytes" -> st.spillBytes.toString,
        "peak_exec_mem_bytes" -> st.peakExecMem.toString,
        "max_task_s" -> Json.num(st.maxTaskS), "p50_task_s" -> Json.num(st.p50TaskS)))
    }
    res.sections("spans") = spans.mkString("[", ",", "]")
  }

  def timed(): Unit
  def traced(): Unit
}

/** Labeled corpus helpers shared by the batch and lifecycle workloads. */
trait CorpusInput { self: Workload =>
  var labeled: DataFrame = _ // (doc_id, label)
  var docs: Dataset[Doc] = _
  var nDocs = 0L

  def makeCorpus(p: Corpus.Params): Unit = {
    val ss = spark
    import ss.implicits._
    val gen = Corpus.generateDistributed(spark, p, partitions)
    docs = gen.map(_.doc).cache()
    labeled = gen.select(col("doc.doc_id").as("doc_id"), col("label")).cache()
    nDocs = docs.count()
    labeled.count()
  }

  /** Pairwise precision/recall F1 of `assign` (doc_id, cluster_id) against
    * the corpus labels, over the docs present in `assign`.
    */
  def pairF1(assign: DataFrame): Double = {
    val j = assign.select("doc_id", "cluster_id").join(labeled, "doc_id")
    def pairs(cols: String*): Double =
      j.groupBy(cols.map(col): _*).count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).head().get(0) match {
          case null => 0.0
          case v => v.toString.toDouble
        }
    val tp = pairs("cluster_id", "label")
    val pred = pairs("cluster_id")
    val truth = pairs("label")
    if (pred + truth == 0) 1.0 else 2 * tp / (pred + truth)
  }

  /** ~200 docs spread over the corpus by id hash (a prefix of the corpus
    * would be mostly the skew corpus's copy farm), for the kernel layer */
  def kernelSample(): Seq[Doc] =
    docs.filter(pmod(xxhash64(col("doc_id")), lit(16)) === 0).limit(200).collect().toSeq

  /** Docs whose exact content repeats an earlier doc's (what pre-collapse
    * folds away).
    */
  def collapsedDocs(d: Dataset[Doc]): Long =
    d.count() - d.select(to_json(col("spans")).as("c")).distinct().count()
}
