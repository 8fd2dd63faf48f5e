package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** What one workload run reports: the ops it attempted and failed,
  * its metrics, the first failure messages, and provenance. */
final class Result {
  val attempted = new java.util.concurrent.atomic.AtomicLong(0)
  val failed = new java.util.concurrent.atomic.AtomicLong(0)
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  /** Closed-loop clients of the timed phase. */
  var clients = 1
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Count one checked op; `ok == false` is a failure. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      if (failures.size < 20) failures.add(what)
    }
    ok
  }
  def failureMessages: Seq[String] = failures.asScala.toSeq
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

/** One run's settings and shared handles. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int, val trace: Boolean,
                val workDir: Path, val cpus: Int) {
  val rec = new Recorder(trace)
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config(Main.sessionConf(cpus, workDir))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Main {
  val Workloads = Seq("serve_json", "ingest")

  /** Every end-to-end metric a run reports, with its unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "get_p50_ms" -> "ms", "filtered_get_p50_ms" -> "ms",
    "query_p50_ms" -> "ms", "ops_per_s" -> "1/s", "live_heap_mb" -> "MB")

  /** Every per-layer metric a traced run prints, with its unit. Every
    * time among them is measured on every workload (the codec, filter,
    * reverse-parse and lock probes run in each traced run); a count,
    * ratio or rate of a layer that a workload bypasses reads 0. The
    * absolute times of the Spark-backed layers (per-call job, driver
    * and planning time, flush, compaction, catalog build, copy and
    * bulk import) exist on some workloads only and go to the run
    * record, as do all other figures a run measures. */
  val PerLayer: Seq[(String, String)] = Seq(
    "codec.uri_parse_us" -> "us", "codec.uri_build_us" -> "us",
    "json.file_cache_hit_ratio" -> "ratio", "json.contour_prime_hits" -> "count",
    "json.query_files_per_result" -> "ratio", "json.query_entry_us" -> "us",
    "filters.parse_us" -> "us", "filters.apply_us" -> "us", "filters.serialize_us" -> "us",
    "table.get_jobs" -> "count", "table.get_stages" -> "count", "table.get_tasks" -> "count",
    "table.get_bytes_read" -> "bytes", "table.get_job_frac" -> "fraction",
    "table.get_plan_frac" -> "fraction", "table.query_jobs" -> "count",
    "table.query_job_frac" -> "fraction", "table.parquet_files" -> "count",
    "table.flush_jobs" -> "count", "table.flush_frac" -> "fraction",
    "table.rows_per_flush" -> "count", "table.files_per_flush" -> "count",
    "table.write_amp" -> "ratio", "table.compact_bytes_rewritten" -> "bytes",
    "lock.acquire_us" -> "us", "catalog.ingest_jobs" -> "count",
    "etl.copy_assets_per_s" -> "1/s", "etl.bulk_import_jobs" -> "count",
    "etl.bulk_import_job_frac" -> "fraction", "etl.bulk_import_assets_per_s" -> "1/s",
    "ingest.puts_per_s" -> "1/s", "ingest.space_amp" -> "ratio", "ingest.acked_lost_frac" -> "fraction",
    "jvm.gc_s" -> "s", "trace_overhead_frac" -> "fraction")

  /** The session every Spark workload runs in: `local[nproc]`,
    * shuffle partitions = nproc, AQE on — the repository bench's
    * settings — with scratch space kept inside the run's directory. */
  def sessionConf(cpus: Int, workDir: Path): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.local.dir" -> workDir.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> workDir.resolve("warehouse").toString)

  def confHash(conf: Map[String, String]): String = {
    // paths differ per checkout; hash only the settings that shape plans
    val stable = conf.filter { case (k, _) => !k.endsWith(".dir") }.toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString("\n")
    graft.filters.JsonUtil.md5hex(stable.getBytes("UTF-8")).take(12)
  }

  private val t0 = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  /** `xs.map(f)`, one thread per processor. */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally { pool.shutdown(); pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES) }
  }

  /** User-mode CPU seconds of the whole process so far, from
    * `/proc/self/stat` (clock ticks of 10 ms). */
  private def processUserS(): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "US-ASCII")
    stat.substring(stat.lastIndexOf(')') + 2).split(' ')(11).toLong / 100.0
  }

  /** Run the set-up `body` `n` times and report `setup_s`: the median,
    * over every round but the first (which also warms the JIT), of the
    * user-mode CPU time the process spent in the round. On the shared
    * VM the benchmark was built on, the kernel's cost of the same file
    * writes swings by up to ten times from minute to minute, and the
    * speed of one processor differs from another's, so set-up work is
    * spread over every processor and the kernel's share left out; the
    * wall and total CPU times of each round go to the record. */
  def setup(res: Result, n: Int)(body: Int => Unit): Unit = {
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val runs = (1 to n).map { i =>
      val (w0, c0, u0) = (System.nanoTime(), os.getProcessCpuTime, processUserS())
      body(i)
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      val user = processUserS() - u0
      log(f"set-up $i: $wall%.2fs wall, $cpu%.2fs cpu, $user%.2fs user")
      (wall, cpu, user)
    }
    res.metric("setup_s", Stats.median(runs.tail.map(_._3).toArray), "s")
    res.info("setup_wall_s") = runs.map(_._1)
    res.info("setup_cpu_s") = runs.map(_._2)
    res.info("setup_user_s") = runs.map(_._3)
  }

  /** Post-GC used heap, in MiB. With a Spark session, its listener
    * bus is drained first, so that queued events hold nothing. */
  def liveHeapMb(spark: Option[SparkSession] = None): Double = {
    (1 to 3).foreach { _ =>
      spark.foreach(s => org.apache.spark.perfbenchshim.Bus.waitUntilEmpty(s.sparkContext))
      System.gc()
      Thread.sleep(50)
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  def main(argv: Array[String]): Unit = {
    val opts = argv.filter(_ != "--self-test").grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    if (argv.headOption.contains("--self-test")) {
      val ok = SelfTest.run(Paths.get(need("workdir")).toAbsolutePath)
      System.exit(if (ok) 0 else 1)
    }
    val workload = need("workload")
    if (!Workloads.contains(workload)) {
      System.err.println(s"unknown workload '$workload' (known: ${Workloads.mkString(", ")})")
      sys.exit(2)
    }
    val workDir = Paths.get(need("workdir")).toAbsolutePath
    Files.createDirectories(workDir)
    val ctx = new Ctx(workload, need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", workDir, Runtime.getRuntime.availableProcessors)
    val res = new Result
    val gc0 = gcSeconds()
    workload match {
      case "serve_json" => Serve.run(ctx, res)
      case "ingest"     => Ingest.run(ctx, res)
    }
    if (ctx.trace) res.metric("jvm.gc_s", gcSeconds() - gc0, "s")
    ctx.rec.drain()
    val out = Paths.get(need("out"))
    ctx.rec.writeSpans(out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl"))
    emit(ctx, res, out)
    if (workload != "serve_json") ctx.spark.stop()
  }

  /** Write the full result record and print the contract line. */
  private def emit(ctx: Ctx, res: Result, out: Path): Unit = {
    val wanted = if (ctx.trace) PerLayer else EndToEnd
    val m = Corpus.mapper
    val metrics = m.createObjectNode()
    wanted.foreach { case (name, unit) =>
      val (v, u) = res.metrics.getOrElse(name, (0.0, unit))
      metrics.set[ObjectNode](name, m.createObjectNode().put("value", v).put("unit", u))
    }
    val line = m.createObjectNode()
    line.put("correct", res.failed.get == 0 && res.attempted.get > 0)
    line.put("attempted", res.attempted.get)
    line.put("failed", res.failed.get)
    line.set[ObjectNode]("metrics", metrics)

    val record = line.deepCopy()
    val every = record.putObject("all_metrics")
    res.metrics.foreach { case (name, (v, u)) =>
      every.set[ObjectNode](name, m.createObjectNode().put("value", v).put("unit", u)) }
    val prov = record.putObject("provenance")
    prov.put("workload", ctx.workload).put("seed", ctx.seed).put("seconds", ctx.seconds)
      .put("trace", ctx.trace).put("nproc", ctx.cpus).put("clients", res.clients)
      .put("jdk", System.getProperty("java.version"))
      .put("scala", scala.util.Properties.versionNumberString)
      .put("spark", org.apache.spark.SPARK_VERSION)
      .put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576)
    if (ctx.workload != "serve_json") {
      val conf = sessionConf(ctx.cpus, ctx.workDir) + ("spark.master" -> s"local[${ctx.cpus}]")
      prov.put("session_conf_hash", confHash(conf))
      val c = prov.putObject("session_conf")
      conf.toSeq.sorted.foreach { case (k, v) => c.put(k, v) }
    } else prov.put("session_conf_hash", "no-spark")
    val info = record.putObject("info")
    def java(v: Any): Any = v match {
      case s: scala.collection.Map[_, _] => s.map { case (k, x) => k.toString -> java(x) }.asJava
      case s: Iterable[_] => s.map(java).toSeq.asJava
      case x => x
    }
    res.info.foreach { case (k, v) => info.set[JsonNode](k, m.valueToTree[JsonNode](java(v))) }
    val fails = record.putArray("failures")
    res.failureMessages.foreach(fails.add)
    Files.createDirectories(out.getParent)
    Files.writeString(out, m.writerWithDefaultPrettyPrinter().writeValueAsString(record))
    res.failureMessages.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    System.out.println(m.writeValueAsString(line))
    System.out.flush()
  }
}
