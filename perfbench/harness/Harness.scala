package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{CacheDrain, GraftExtensions, SparkEntry}

/** One benchmark JVM. `perfbench/run.py` launches it; it never runs on
  * its own. Arguments are `--name value` pairs:
  *
  *   --mode setup|run   setup: build the session, warm up, report, exit
  *   --data DIR         parquet tables (the sf0.1 tier)
  *   --keys a,b,c       SparkEntry.queries keys of the workload
  *   --expected FILE    `key<TAB>rows` lines: the oracle row counts
  *   --seed N           seeds the per-pass key permutations
  *   --seconds S        warm passes run until S seconds have passed
  *   --min-warm N       ... and at least N warm passes
  *   --trace 0|1        1: spans around build/plan/exec/drain + listener
  *   --launched-ns N    epoch ns at which the launcher started this JVM
  *   --cores N          local[N]
  *   --out FILE         results JSON
  *   --spans FILE       span JSON lines (traced run only)
  *   --run-id ID, --workload NAME   recorded on every span
  *
  * Layers are timed from outside, at public entry points:
  * `SparkEntry.queries(k)(spark, sf)` (queries), `executedPlan` (plans),
  * `count()` (exec) and `CacheDrain.drain` (CacheDrain). The untraced run
  * times only `fn(spark, sf).count()` per key.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchedNs = opt("launched-ns").toLong
    val calibStart = calibrate()
    val cores = opt("cores").toInt
    val data = opt("data")
    val spark = session(cores)
    val sessionS = (epochNs() - launchedNs) / 1e9
    // The warm-up SparkEntry.entry runs (Relational.q1), pointed at the
    // benchmark's own data dir instead of entry's hard-coded tier.
    graft.queries.Relational.q1(spark, data).count()
    val setupS = (epochNs() - launchedNs) / 1e9
    val env = Json.obj(
      "session_s" -> Json.num(sessionS),
      "cores" -> Json.num(cores),
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "tmpdir" -> Json.str(System.getProperty("java.io.tmpdir")))
    val out = opt("out")
    if (opt("mode") == "setup") {
      spark.stop()
      write(out, Json.obj("setup_s" -> Json.num(setupS), "env" -> env))
      return
    }
    val keys = opt("keys").split(",").toSeq
    val expected = Files.readAllLines(Paths.get(opt("expected"))).asScala
      .map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap
    val traced = opt("trace") == "1"
    val run = new Run(spark, data, keys, expected, opt("seed").toLong, traced,
      Seq("run" -> Json.str(opt("run-id")), "workload" -> Json.str(opt("workload"))))
    val passes = mutable.ArrayBuffer(run.pass(0, cold = true))
    val warmStart = System.nanoTime()
    val seconds = opt("seconds").toDouble
    val minWarm = opt("min-warm").toInt
    while (passes.size - 1 < minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds)
      passes += run.pass(passes.size, cold = false)
    val calibEnd = calibrate()
    spark.stop()
    write(out, Json.obj(
      "setup_s" -> Json.num(setupS),
      "env" -> env,
      "calib_s" -> Json.arr(Seq(calibStart, calibEnd).map(Json.num)),
      "passes" -> Json.arr(passes.toSeq)))
    opt.get("spans").filter(_ => traced).foreach(p => write(p, run.spans.mkString("\n")))
  }

  def session(cores: Int): SparkSession = {
    // Bench.scala's session settings, at the host's core count rather
    // than Bench's local[32] default.
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Fixed single-thread work (an LCG walk over a 4 MB table) whose
    * duration tracks how fast the host runs right now, not the program.
    */
  def calibrate(): Double = {
    val table = Array.tabulate(1 << 20)(i => i * 2654435761L)
    var x = 1L
    var acc = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 40000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      acc += table(((x >>> 33) & ((1 << 20) - 1)).toInt)
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (acc == 42) println("")  // keeps the loop from being eliminated
    s
  }

  def epochNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), (text + "\n").getBytes(StandardCharsets.UTF_8))
}

/** Runs passes over the workload's keys and records what each did. */
final class Run(spark: SparkSession, data: String, keys: Seq[String],
    expected: Map[String, Long], seed: Long, traced: Boolean, spanTags: Seq[(String, String)]) {
  private val fns = keys.map(k => k -> SparkEntry.queries(k)).toMap
  private val rng = new Random(seed)
  private val listener = new LayerListener
  val spans = mutable.ArrayBuffer.empty[String]
  private val t0 = System.nanoTime()
  private val artStore = new File(System.getProperty("java.io.tmpdir"), "graft_artstore")
  if (traced) spark.sparkContext.addSparkListener(listener)

  def pass(n: Int, cold: Boolean): String = {
    val order = rng.shuffle(keys)
    val gc0 = Harness.gcSeconds()
    listener.reset()
    val pass0 = System.nanoTime()
    val samples = order.map(k => if (traced) tracedKey(n, k) else timedKey(k))
    val wall = (System.nanoTime() - pass0) / 1e9
    val gc = Harness.gcSeconds() - gc0
    // Untimed: full collections between passes, so the heap still in use
    // after them is what the pass left behind, and each pass starts alike.
    // The second one follows Spark's ContextCleaner, which releases
    // shuffle and broadcast state once the first has freed its owners.
    System.gc()
    Thread.sleep(100)
    System.gc()
    val fields = Seq(
      "pass" -> Json.num(n), "cold" -> Json.bool(cold), "wall_s" -> Json.num(wall), "gc_s" -> Json.num(gc),
      "heap_retained_mb" -> Json.num(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0),
      "samples" -> Json.arr(samples))
    val layers =
      if (traced) Seq("layers" -> Json.obj(listener.totals.toSeq.map { case (k, v) => k -> Json.num(v) } ++
        Seq("store_mb" -> Json.num(dirBytes(artStore) / 1048576.0)): _*))
      else Nil
    Json.obj(fields ++ layers: _*)
  }

  /** The untraced measurement: build and count, nothing else timed. */
  private def timedKey(k: String): String = {
    val start = System.nanoTime()
    val rows = try Right(fns(k)(spark, data).count()) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - start) / 1e9
    CacheDrain.drain(spark)
    sample(k, secs, rows)
  }

  private def tracedKey(n: Int, k: String): String = {
    val sc = spark.sparkContext
    val published0 = publishedArtifacts()
    val key0 = System.nanoTime()
    def span(name: String)(body: => Any): Any = {
      ListenerBusAccess.waitUntilEmpty(sc)
      listener.phase = name
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        ListenerBusAccess.waitUntilEmpty(sc)
        listener.add(s"$name.s", (e - s) / 1e9)
        addSpan(n, k, name, "key", s, e)
      }
    }
    val rows = try {
      val df = span("build")(fns(k)(spark, data)).asInstanceOf[DataFrame]
      span("plan")(df.queryExecution.executedPlan)
      Right(span("exec")(df.count()).asInstanceOf[Long])
    } catch { case NonFatal(e) => Left(e) }
    val key1 = System.nanoTime()
    listener.add("persisted_rdds", sc.getPersistentRDDs.size.toDouble)
    span("drain")(CacheDrain.drain(spark))
    listener.phase = "idle"
    listener.add("publishes", (publishedArtifacts() -- published0).size.toDouble)
    addSpan(n, k, "key", "pass", key0, key1)
    sample(k, (key1 - key0) / 1e9, rows)
  }

  private def addSpan(n: Int, k: String, name: String, parent: String, start: Long, end: Long): Unit =
    spans += Json.obj(spanTags ++ Seq("pass" -> Json.num(n), "key" -> Json.str(k),
      "span" -> Json.str(name), "parent" -> Json.str(parent), "start_s" -> Json.num((start - t0) / 1e9),
      "end_s" -> Json.num((end - t0) / 1e9)): _*)

  private def sample(k: String, secs: Double, rows: Either[Throwable, Long]): String = {
    val want = expected(k)
    val base = Seq("key" -> Json.str(k), "secs" -> Json.num(secs), "expected" -> Json.num(want))
    rows match {
      case Right(n) if n == want => Json.obj(base ++ Seq("rows" -> Json.num(n), "ok" -> Json.bool(true)): _*)
      case Right(n) => Json.obj(base ++ Seq("rows" -> Json.num(n), "ok" -> Json.bool(false),
        "error" -> Json.str(s"row count $n, expected $want")): _*)
      case Left(e) => Json.obj(base ++ Seq("ok" -> Json.bool(false),
        "error" -> Json.str(s"${e.getClass.getName}: ${e.getMessage}")): _*)
    }
  }

  private def publishedArtifacts(): Set[String] =
    Option(artStore.listFiles()).toSet.flatten
      .filter(f => f.getName.startsWith("art") && new File(f, "_SUCCESS").isFile).map(_.getName)

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()
}

/** Listener counters for a pass. Jobs are also counted per layer call
  * (`build.jobs`, `exec.jobs`, ...) by the call running when they started.
  */
final class LayerListener extends SparkListener {
  @volatile var phase = "idle"
  val totals = mutable.LinkedHashMap.empty[String, Double]

  def reset(): Unit = synchronized { totals.clear() }
  def add(name: String, v: Double): Unit = synchronized { totals(name) = totals.getOrElse(name, 0.0) + v }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    add(s"$phase.jobs", 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("stages", 1)
    if (e.stageInfo.numTasks == 1) add("single_task_stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_s", m.executorRunTime / 1e3)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("spill_mb", m.diskBytesSpilled / 1048576.0)
      add("input_mb", m.inputMetrics.bytesRead / 1048576.0)
      add("output_mb", m.outputMetrics.bytesWritten / 1048576.0)
    }
  }
}

/** Just enough JSON writing for the results file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
