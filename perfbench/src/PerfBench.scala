package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call: where it ran, how long it took, how it ended, and what
  * the untimed isolation step found after it. */
final case class Sample(pass: Int, id: String, op: Op, start: Long,
                        buildS: Double, execS: Double, buildEnd: Long,
                        end: Long, error: Option[(String, String)],
                        heapMb: Double, cachedLeft: Int, gcMs: Long)

/** The benchmark's JVM side. It sets up Spark, runs one untimed warm pass
  * whose outputs are kept for the oracle checks, then runs whole timed
  * passes of the workload's ops until the time is up, and writes every
  * sample (and, traced, every span and layer counter) to
  * `<out>/result.json`. The caller computes the metrics.
  *
  * Usage: PerfBench <workload> <dataDir> <outDir> <seconds> <seed> <trace>
  *   <cpus> <inject> [<batch parquet>...]
  */
object PerfBench {

  private val Setups = 3

  def main(args: Array[String]): Unit = {
    val jvmBootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val Array(workload, dataDir, outDir, secondsS, seedS, traceS, cpusS,
      injectS) = args.take(8)
    val batches = args.drop(8).toSeq
    val (seconds, seed, trace) = (secondsS.toDouble, seedS.toLong, traceS == "1")
    val tables = Files.list(Paths.get(dataDir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).toSeq.sorted

    // set-up, several times: session start, input load, a warm-up query
    var spark: SparkSession = null
    var rows = Map.empty[String, Long]
    val setupS = (0 until Setups).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpusS, outDir)
      rows = tables.map(t =>
        t -> spark.read.parquet(s"$dataDir/$t.parquet").count()).toMap
      spark.read.parquet(s"$dataDir/${tables.head}.parquet")
        .groupBy().count().collect()
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    require(aqe == "true", s"AQE must be enabled, found $aqe")
    val batchRows = batches.map(b => spark.read.parquet(b).count())

    val w = new Workloads(dataDir, outDir, rows)
    val pass: Seq[Op] = (workload match {
      case "eda_notebook" => w.edaNotebook
      case "curation_corpus" => w.curationCorpus
      case "replay_score" => w.replayScore(batches, batchRows)
    }) ++ (if (injectS == "1") Seq(w.injectedFailure(tables.head)) else Nil)
    // eda_notebook draws each pass as a seeded shuffle of the whole op
    // deck: the mix is the same on every seed, only the order and the
    // inputs change. The pipelines keep their order.
    def order(p: Int): Seq[Op] =
      if (workload == "eda_notebook")
        new scala.util.Random(seed * 7919 + p).shuffle(pass)
      else pass

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
    val memory = ManagementFactory.getMemoryMXBean

    // isolation, untimed: full GC, sample what the op left behind, then
    // drop every cache so the next op starts clean (as graft.Bench does).
    // The first GC hands unreachable broadcasts and shuffles to Spark's
    // ContextCleaner; the second frees the blocks it has dropped meanwhile.
    def isolate(): (Double, Int) = {
      System.gc()
      Thread.sleep(50)
      System.gc()
      val left = (memory.getHeapMemoryUsage.getUsed / 1048576.0,
        sc.getPersistentRDDs.size)
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      graft.util.CacheRegistry.clear()
      left
    }

    def timed(p: Int, i: Int, op: Op): Sample = {
      val id = s"p$p-$i-${op.name}"
      sc.setJobGroup(id, op.name, interruptOnCancel = false)
      sc.setLocalProperty(OpListener.PhaseKey, "build")
      val gc0 = gcMs
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var error: Option[Throwable] = None
      val df: Option[DataFrame] =
        try Some(op.build(spark)) catch { case e: Throwable => error = Some(e); None }
      val t1 = System.nanoTime()
      val buildEnd = System.currentTimeMillis()
      sc.setLocalProperty(OpListener.PhaseKey, "execute")
      df.foreach { d =>
        try op.sink(d, p < 0) catch { case e: Throwable => error = Some(e) }
      }
      val t2 = System.nanoTime()
      val end = System.currentTimeMillis()
      val gcDelta = gcMs - gc0
      sc.clearJobGroup()
      sc.setLocalProperty(OpListener.PhaseKey, null)
      Sample(p, id, op, start, (t1 - t0) / 1e9, (t2 - t1) / 1e9, buildEnd, end,
        error.map(describe), 0.0, 0, gcDelta)
    }
    // isolated once the op's DataFrame is out of scope, so the heap sample
    // holds only what graft and Spark kept
    def run(p: Int, i: Int, op: Op): Sample = {
      val s = timed(p, i, op)
      val (heapMb, cachedLeft) = isolate()
      s.copy(heapMb = heapMb, cachedLeft = cachedLeft)
    }

    // The warm pass only warms the JIT and keeps outputs for the checks, so
    // independent ops run concurrently, one per core (see Op.stage/chain).
    val warmStart = System.nanoTime()
    val pool = Executors.newFixedThreadPool(cpusS.toInt)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val warm = try order(-1).zipWithIndex.groupBy(_._1.stage).toSeq.sortBy(_._1)
      .flatMap { case (_, ops) =>
        Await.result(Future.sequence(ops.groupBy { case (op, i) =>
          if (op.chain.isEmpty) i.toString else op.chain
        }.values.toSeq.map(chain => Future(chain.map { case (op, i) =>
          timed(-1, i, op)
        }))), Duration.Inf).flatten
      }
    finally { pool.shutdown(); isolate() }
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val listener = if (trace) {
      val l = new OpListener; sc.addSparkListener(l); Some(l)
    } else None

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passSpans = mutable.ArrayBuffer.empty[Span]
    val timedStart = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      val s0 = System.currentTimeMillis()
      samples ++= order(p).zipWithIndex.map { case (op, i) => run(p, i, op) }
      passSpans += Span(s"pass-$p", s"pass $p", "bench", "",
        s0, System.currentTimeMillis())
      p += 1
    }
    listener.foreach(_ => org.apache.spark.BusDrain(sc))

    val out = Json.obj(
      "env" -> Json.obj(
        "workload" -> workload, "seed" -> seed, "master" -> sc.master,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> aqe, "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version, "input_rows" -> rows,
        "batch_rows" -> batchRows),
      "jvm_boot_s" -> jvmBootS,
      "setup_s" -> setupS,
      "warm_s" -> warmS,
      "jit_s" -> jit(),
      "oracles" -> pass.flatMap(op =>
        graft.Queries.oracleSql.get(op.name).map(op.name -> _)).toMap,
      "warm" -> warm.map(sampleJson),
      "samples" -> samples.map(sampleJson),
      "work" -> listener.map(_.work.map { case (k, v) => k -> workJson(v) }
        .toMap).orNull)
    Files.writeString(Paths.get(s"$outDir/result.json"), Json.render(out))
    listener.foreach { l =>
      val spans = passSpans ++ samples.flatMap { s =>
        Seq(Span(s.id, s.op.name, s.op.layer, s"pass-${s.pass}", s.start, s.end),
          Span(s"${s.id}/build", "build", s.op.layer, s.id, s.start, s.buildEnd),
          Span(s"${s.id}/execute", "execute", s.op.layer, s.id, s.buildEnd,
            s.end))
      } ++ l.jobSpans
      Files.writeString(Paths.get(s"$outDir/trace.json"), Json.render(
        spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
          "layer" -> s.layer, "parent" -> s.parent, "start_ms" -> s.start,
          "end_ms" -> s.end)).toSeq))
    }
    spark.stop()
  }

  private def session(cpus: String, outDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()

  private def jit(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** Exception class of the root cause, and the innermost
    * `Errors.context` operator named on the way up (empty if none). */
  private def describe(e: Throwable): (String, String) = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val operator = chain.collectFirst { case g: graft.util.GraftException =>
      g.summaryText.linesIterator.collectFirst {
        case l if l.startsWith("Operator:") => l.stripPrefix("Operator:").trim
      }.getOrElse("")
    }.getOrElse("")
    (graft.util.Errors.rootCause(e).getClass.getName, operator)
  }

  private def sampleJson(s: Sample): Json.Obj = Json.obj(
    "pass" -> s.pass, "id" -> s.id, "name" -> s.op.name, "layer" -> s.op.layer,
    "rows" -> s.op.rows, "fit" -> s.op.fit, "build_s" -> s.buildS,
    "exec_s" -> s.execS, "ok" -> s.error.isEmpty,
    "error_class" -> s.error.map(_._1).orNull,
    "error_operator" -> s.error.map(_._2).orNull,
    "heap_mb" -> s.heapMb, "cached_left" -> s.cachedLeft, "gc_ms" -> s.gcMs)

  private def workJson(w: OpWork): Json.Obj = Json.obj(
    "jobs" -> w.jobs, "eager_jobs" -> w.eagerJobs, "tasks" -> w.tasks,
    "failed_tasks" -> w.failedTasks, "idle_tasks" -> w.idleTasks,
    "run_ms" -> w.runMs, "cpu_ns" -> w.cpuNs, "gc_ms" -> w.gcMs,
    "sched_delay_ms" -> w.schedDelayMs, "shuffle_bytes" -> w.shuffleBytes,
    "spill_bytes" -> w.spillBytes, "input_bytes" -> w.inputBytes,
    "output_bytes" -> w.outputBytes, "peak_exec_mem" -> w.peakExecMem)
}

/** Minimal JSON rendering for the result files. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }
      .mkString("{", ",", "}")
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" +
      render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
