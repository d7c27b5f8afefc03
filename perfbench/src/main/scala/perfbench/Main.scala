package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** JVM side of the benchmark. Runs one workload's keys through the
  * program's public entry point `graft.SparkEntry.queries`, closed loop
  * with one client: one driver thread, each key starting after the
  * previous one completed. It times the calls from outside and writes
  * raw observations; `run.py` turns them into metrics and checks the
  * outputs against the DuckDB oracle.
  *
  * Usage: `perfbench.Main --keys k1,k2 --inputs DIR --warm DIR
  *   --warm-passes N --work DIR --cores N --seconds S --trace 0|1`
  */
object Main {

  final case class KeyRun(key: String, startUs: Long, endUs: Long,
      buildS: Double, compileS: Double, executeS: Double, rows: Long,
      digest: String, plan: Map[String, Int], error: Option[String])

  final case class Pass(keys: Seq[KeyRun]) {
    def wallS: Double = (keys.last.endUs - keys.head.startUs) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val keys = o("keys").split(',').toSeq
    val inputs = Paths.get(o("inputs"))
    val work = Paths.get(o("work")).toAbsolutePath
    val cores = o("cores").toInt
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val steal0 = Host.stealJiffies()

    var spark = session(cores, cores, work, trace)
    // Warm-up: passes over inputs of the same size made from another
    // seed, so no cached plan, staged file or listing matches the timed
    // inputs, until the JIT has compiled what the timed passes run. Their
    // errors surface again in the timed passes.
    for (i <- 0 until o("warm-passes").toInt)
      runPass(spark, keys, linkInputs(Paths.get(o("warm")), work.resolve(s"warm$i")))
    spark.catalog.clearCache()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    Tracer.on.set(trace)
    val passes = ArrayBuffer[Pass]()
    val firstRows = mutable.Map[String, (Array[Row], StructType)]()
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val dir = linkInputs(inputs, work.resolve(s"pass${passes.size}"))
      passes += runPass(spark, keys, dir, if (passes.isEmpty) Some(firstRows) else None)
    }
    Tracer.on.set(false)
    BatchLog.drain()
    val leakedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0 / passes.size
    val exec = JobListener.all

    // Traced runs add two reference passes: one untraced at the same core
    // count (the base of trace.overhead_ratio) and one at local[1] (the
    // single-thread baseline of exec.speedup_vs_1core).
    val (untracedWallS, oneCoreWallS) =
      if (!trace) (Double.NaN, Double.NaN)
      else {
        val dirU = linkInputs(inputs, work.resolve("pass-untraced"))
        val u = runPass(spark, keys, dirU).wallS
        spark.stop()
        spark = session(1, cores, work, trace = false)
        val dir1 = linkInputs(inputs, work.resolve("pass-1core"))
        (u, runPass(spark, keys, dir1).wallS)
      }

    val calibS = Host.calibrate()
    val out = work.resolve("out")
    firstRows.foreach { case (key, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(key).toString)
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(work.resolve("oracle_sql.json"), Json.obj(
      keys.flatMap(k => oracle.get(k).map(k -> Json.str(_)))))
    val batches = BatchLog.batches.asScala.toSeq
    Files.writeString(work.resolve("result.json"), Json.obj(Seq(
      "setup_s" -> setupS.toString,
      "cores" -> cores.toString,
      "passes" -> Json.arr(passes.toSeq.map(p => Json.arr(p.keys.map(keyJson(_, batches))))),
      "peak_rss_mb" -> Host.peakRssMb().toString,
      "untraced_wall_s" -> Json.num(untracedWallS),
      "one_core_wall_s" -> Json.num(oneCoreWallS),
      "cache_leaked_mb" -> leakedMb.toString,
      "exec" -> Json.obj(Seq(
        "jobs" -> JobListener.jobs.get, "stages" -> JobListener.stages.get,
        "tasks" -> exec.tasks, "task_ms" -> exec.runMs, "task_cpu_ns" -> exec.cpuNs,
        "gc_ms" -> exec.gcMs, "shuffle_write" -> exec.shuffleWrite,
        "shuffle_read" -> exec.shuffleRead, "spill" -> exec.spill,
        "input" -> exec.input, "peak_exec_mem" -> exec.peakExecMem)
        .map { case (k, v) => k -> v.toString }),
      "meta" -> Json.obj(Seq(
        "steal_jiffies" -> (Host.stealJiffies() - steal0).toString,
        "loadavg" -> Json.str(Host.loadavg()),
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "calib_s" -> calibS.toString)))))
    if (trace) Files.write(work.resolve("spans.jsonl"),
      Tracer.all.map(spanJson).asJava)
    spark.stop()
  }

  def session(cores: Int, shufflePartitions: Int, work: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[BatchListener].getName)
    if (trace) b.config("spark.extraListeners", classOf[JobListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A fresh directory of hard links to the seed's input files: each
    * pass reads the same bytes under a path the program has not seen, so
    * per-path caches in the program or in Spark cannot carry over. */
  def linkInputs(src: Path, dst: Path): Path = {
    Files.createDirectories(dst)
    val files = Files.list(src)
    try files.iterator().asScala.foreach(f => Files.createLink(dst.resolve(f.getFileName), f))
    finally files.close()
    dst
  }

  /** Runs every key once on `dir`; keeps each key's rows in `rowsOut`. */
  def runPass(spark: SparkSession, keys: Seq[String], dir: Path,
      rowsOut: Option[mutable.Map[String, (Array[Row], StructType)]] = None): Pass = {
    val id = Tracer.nextId()
    val s = Tracer.nowUs()
    val runs = keys.map(k => runKey(spark, k, dir.toString, id, rowsOut))
    Tracer.add(Span(id, 0, "workload", s, Tracer.nowUs(), Map("dir" -> dir.getFileName.toString)))
    Pass(runs)
  }

  def runKey(spark: SparkSession, key: String, dir: String, parent: Long,
      rowsOut: Option[mutable.Map[String, (Array[Row], StructType)]]): KeyRun = {
    val sc = spark.sparkContext
    val keySpan = Tracer.nextId()
    val start = Tracer.nowUs()
    val times = ArrayBuffer[Double]()
    def phase[T](name: String)(f: => T): T = {
      val id = Tracer.nextId()
      sc.setLocalProperty(JobListener.SpanProp, id.toString)
      val a = Tracer.nowUs()
      try f finally {
        val b = Tracer.nowUs()
        Tracer.add(Span(id, keySpan, name, a, b))
        times += (b - a) / 1e6
      }
    }
    val result =
      try {
        val df = phase("key.build")(graft.SparkEntry.queries(key)(spark, dir))
        phase("key.compile")(df.queryExecution.executedPlan)
        val rows = phase("key.execute")(df.collect())
        rowsOut.foreach(_(key) = (rows, df.schema))
        Right((rows, PlanShape.counts(df.queryExecution.executedPlan)))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally sc.setLocalProperty(JobListener.SpanProp, null)
    val end = Tracer.nowUs()
    Tracer.add(Span(keySpan, parent, "key", start, end, Map("key" -> key)))
    def t(i: Int) = times.lift(i).getOrElse(0.0)
    result match {
      case Right((rows, plan)) =>
        KeyRun(key, start, end, t(0), t(1), t(2), rows.length, digest(rows), plan, None)
      case Left(err) =>
        System.err.println(s"[perfbench] $key failed: $err")
        KeyRun(key, start, end, t(0), t(1), t(2), 0, "", Map.empty, Some(err))
    }
  }

  /** Order-insensitive digest of a result: passes of one run must agree. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def keyJson(r: KeyRun, batches: Seq[Batch]): String = {
    val mine = batches.filter(b => b.startMs * 1000 >= r.startUs - 1000 && b.startMs * 1000 <= r.endUs)
    Json.obj(Seq(
      "key" -> Json.str(r.key), "start_us" -> r.startUs.toString, "end_us" -> r.endUs.toString,
      "build_s" -> r.buildS.toString, "compile_s" -> r.compileS.toString,
      "execute_s" -> r.executeS.toString, "rows" -> r.rows.toString,
      "digest" -> Json.str(r.digest),
      "error" -> r.error.map(Json.str).getOrElse("null"),
      "plan" -> Json.obj(r.plan.toSeq.map { case (k, v) => k -> v.toString }),
      "batches" -> Json.arr(mine.map(b => Json.obj(Seq(
        "query" -> Json.str(b.queryId), "batch" -> b.batchId.toString,
        "start_ms" -> b.startMs.toString, "input_rows" -> b.inputRows.toString,
        "state_rows" -> b.stateRows.toString, "state_mem" -> b.stateMemBytes.toString,
        "state_commit_ms" -> b.stateCommitMs.toString, "late_dropped" -> b.lateDropped.toString,
        "durations" -> Json.obj(b.durations.toSeq.map { case (k, v) => k -> v.toString })))))))
  }

  private def spanJson(s: Span): String = Json.obj(Seq(
    "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
    "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString,
    "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.str(v) })))
}

/** Host observations recorded with each run as metadata. */
object Host {
  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), "UTF-8") catch { case _: Throwable => "" }

  def stealJiffies(): Long = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
    .map(_.trim.split("\\s+")(8).toLong).getOrElse(0L)

  def loadavg(): String = read("/proc/loadavg").trim

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Time of a fixed single-thread integer loop: tells a slow host from
    * a slow program when runs on different days are compared. */
  def calibrate(): Double = {
    def loop(): Long = {
      var x = 0x9E3779B97F4A7C15L; var s = 0L; var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x; i += 1 }
      s
    }
    loop()
    val t0 = System.nanoTime()
    val sink = loop()
    val dt = (System.nanoTime() - t0) / 1e9
    if (sink == 42L) System.err.println("unreachable")
    dt
  }
}

/** Minimal JSON text builders: values are passed already encoded. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
