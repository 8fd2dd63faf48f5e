package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.core.{AssetValue, Route}
import graft.store.{AssetStore, JsonFileStore, TableStore}

/** One writer into a `TableStore`, the way a pipeline publishes
  * results: per new experiment, take the store lock, put every asset
  * through the typed putters, publish (a `query(project, experiment)`
  * that must list every asset), and read back a sample as the first
  * reader would. The timed produce phase repeats that for the run's
  * seconds. The traced run then adds a maintenance tail, each step
  * timed and checked: a partial re-run of one experiment (overwrites),
  * `rmExperimentData` of another, `compact` of every table,
  * `bulkImport` of a corpus tree into a fresh store, and a durability
  * probe. */
object Ingest {
  /** Experiments in the bulk-import source tree (one legacy): ~1 000
    * assets. */
  val EtlExperiments = 2
  /** Assets of the first experiment the re-run overwrites. */
  val RerunAssets = 60
  val ReadBackGets = 8
  val ProbeBatch = 20
  val MinExperiments = 3

  def parquetFiles(dir: Path): Long = walk(dir).count(_.getFileName.toString.endsWith(".parquet"))
  def dirBytes(dir: Path): Long = walk(dir).map(Files.size).sum

  private def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val w = Files.walk(dir)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally w.close()
    }

  private val pe = (e: String) => Map("project" -> Corpus.Project, "experiment" -> e)

  /** Store-call latencies (ms) of the produce phase, per op kind; the
    * oracle checks run outside them. `flush` holds the traced run's
    * explicit flush, which the untraced run leaves to the publish
    * query. */
  final class Log {
    val put, flush, get, filtered, query = ArrayBuffer.empty[Double]
    val publishS = ArrayBuffer.empty[Double]
    var experiments = 0
    var putBytes = 0L
    def ops: Int = put.size + get.size + filtered.size + query.size
    def storeS: Double = Seq(put, flush, get, filtered, query).map(_.sum).sum / 1000
    def putsPerS: Double = put.size / ((put.sum + flush.sum + query.sum) / 1000)
  }

  private def ms[T](buf: ArrayBuffer[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally buf += (System.nanoTime() - t0) / 1e6
  }

  /** Publish one experiment (one traced request): lock, typed puts,
    * catalog check, read-back. */
  private def publish(store: TableStore, assets: Seq[Asset], legacy: Seq[Asset], res: Result,
                      rec: Recorder, log: Log, seed: Long): Unit = rec.request {
    val exp = assets.head.experiment
    val lock = rec.span("lock.acquire")(store.lock())
    try {
      val t0 = System.nanoTime()
      Corpus.configsFirst(assets).foreach { a =>
        ms(log.put)(rec.span("table.put")(a.put(store)))
        res.check(ok = true, "")
      }
      if (rec.enabled) ms(log.flush)(rec.span("table.flush")(store.flushAll()))
      val got = ms(log.query)(rec.span("catalog.publish")(store.query(kwargs = pe(exp))))
      val want = Corpus.catalogExpect(assets, jsonBackend = false)
      res.check(want.matches(got), s"publish $exp: routes ${want.histogram(got)} != ${want.routeCounts}")
      log.publishS += (System.nanoTime() - t0) / 1e9
      readBack(store, assets, legacy, res, rec, log, seed)
      Main.log(f"published $exp: ${log.publishS.last}%.2fs + read-back ${(System.nanoTime() - t0) / 1e9 - log.publishS.last}%.2fs")
    } finally lock.close()
    log.experiments += 1
    log.putBytes += assets.map(_.payloadBytes).sum
  }

  /** The first reader's view: a sample of point gets (a blob among
    * them, typed and by URI, and one asset of the copied legacy
    * experiment, whose rows key by NULL) and one filtered view of each
    * kind. */
  private def readBack(store: TableStore, assets: Seq[Asset], legacy: Seq[Asset], res: Result,
                       rec: Recorder, log: Log, seed: Long): Unit = {
    val r = new SplittableRandom(seed ^ assets.head.experiment.hashCode)
    val blob = assets.filter(_.isBlob)
    val sample = blob(r.nextInt(blob.size)) +: legacy(r.nextInt(legacy.size)) +:
      (2 until ReadBackGets).map(_ => assets(r.nextInt(assets.size)))
    sample.zipWithIndex.foreach { case (a, i) =>
      val v = if (i % 2 == 0) ms(log.get)(rec.span("store.get")(a.get(store)))
      else { val uri = Probes.uri(rec, a); ms(log.get)(rec.span("store.get")(store.getByUri(uri))) }
      res.check(a.matches(v), s"read-back ${a.uri}: wrong payload")
    }
    val views = Corpus.filteredReads(assets)
    Seq("regional_stats", "heatmap", "map", "contour").map(k => views.find(_.kind == k).get).foreach { f =>
      Probes.filters(rec, f)
      val v = ms(log.filtered)(rec.span("store.filtered_get")(f.run(store)))
      res.check(f.matches(v), s"read-back ${f.kind} ${f.source.uri}: wrong sub-document")
    }
  }

  /** Produce experiments `new<k>` until `seconds` have passed, and at
    * least `minExperiments`: three in a timed run, so every run
    * publishes the same work at the same point of the JIT's warm-up.
    * `atMin` runs once the first `minExperiments` are published, at
    * the same point of the work in every run; its time is left out of
    * the phase's wall time and deadline. */
  private def produce(store: TableStore, legacy: Seq[Asset], ctx: Ctx, res: Result, rec: Recorder,
                      seconds: Double, minExperiments: Int,
                      atMin: () => Unit = () => ()): (Log, Double, Seq[String]) = {
    val log = new Log
    val done = ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var paused = 0L
    var k = 0
    while (log.experiments < minExperiments || System.nanoTime() < t0 + paused + (seconds * 1e9).toLong) {
      val assets = Corpus.experiment(ctx.seed, f"new$k%03d")
      publish(store, assets, legacy, res, rec, log, ctx.seed)
      done += assets.head.experiment
      k += 1
      if (log.experiments == minExperiments) {
        val p0 = System.nanoTime()
        atMin()
        paused += System.nanoTime() - p0
      }
    }
    (log, (System.nanoTime() - t0 - paused) / 1e9, done.toSeq)
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    val names = Corpus.experimentNames(EtlExperiments)
    // set-up: generate the bulk-import corpus and write it as a source
    // tree, four times
    var etl: Seq[Asset] = null
    var tree: JsonFileStore = null
    Main.setup(res, 4) { i =>
      val exps = Main.parMap(names)(n => Corpus.experiment(ctx.seed, n, legacy = n == names.head)) :+
        Corpus.projectAssets(ctx.seed, names)
      etl = exps.flatten
      tree = new JsonFileStore(ctx.workDir.resolve(s"tree$i").toString)
      Main.parMap(exps)(as => Corpus.configsFirst(as).foreach(_.put(tree)))
    }
    val heap0 = if (ctx.trace) 0.0 else Main.liveHeapMb(Some(spark))
    res.info("etl_assets") = etl.size
    res.info("assets_per_experiment") = Corpus.AssetsPerExperiment

    // the store starts with the tree copied in by the copy ETL: its
    // first use of the Spark write and read paths is the run's warm-up,
    // and the legacy experiment's rows key `time`/`region` as NULL
    val legacy = etl.filter(a => a.experiment == names.head &&
      Set[Route](Route.MapRoute, Route.Scatter, Route.HeatmapTimeseries).contains(a.route))
    def copied(dir: String): TableStore = {
      val ts = new TableStore(spark, ctx.workDir.resolve(dir).toString)
      val t0 = System.nanoTime()
      graft.etl.CopyDb.copyDbContents(tree, ts)
      val took = (System.nanoTime() - t0) / 1e9
      res.metric("etl.copy_s", took, "s")
      res.metric("etl.copy_assets_per_s", etl.size / took, "1/s")
      Main.log(f"copied the tree: $took%.2fs")
      val r = new SplittableRandom(ctx.seed)
      (etl.find(_.isBlob).get +: (0 until 3).map(_ => legacy(r.nextInt(legacy.size)))).foreach(a =>
        res.check(a.matches(a.get(ts)), s"copied ${a.uri}: wrong payload"))
      val f = Corpus.filteredReads(etl.filter(_.experiment == names(1))).head
      res.check(f.matches(f.run(ts)), s"copied ${f.kind} ${f.source.uri}: wrong sub-document")
      ts
    }
    val store = copied("store")
    // the timed run publishes one experiment untimed first: the copy
    // warms the write path, this the publish and read-back path
    val warm = new Log
    if (!ctx.trace) publish(store, Corpus.experiment(ctx.seed, "warm"), legacy, res, rec, warm, ctx.seed)
    val storeDir = Path.of(store.basedir)
    val filesBefore = parquetFiles(storeDir)
    Main.log("warm-up done")
    // the heap the store and the session hold once the first
    // experiments are published, over that of the session and corpus
    // before the store was made
    var heapMb = 0.0
    val (log, wall, newNames) =
      if (!ctx.trace) produce(store, legacy, ctx, res, rec, ctx.seconds, MinExperiments,
        atMin = () => heapMb = Main.liveHeapMb(Some(spark)) - heap0)
      else {
        // the same produce loop untraced (into a store of its own), then
        // traced, three experiments each; the difference is the tracing
        // overhead
        val (l0, w0, _) = produce(copied("untraced"), legacy, ctx, new Result, new Recorder(false),
          0, MinExperiments)
        rec.attach(spark)
        val out = produce(store, legacy, ctx, res, rec, 0, l0.experiments)
        res.metric("trace_overhead_frac", (out._2 / out._1.ops) / (w0 / l0.ops) - 1, "fraction")
        out
      }
    res.metric("get_p50_ms", Stats.median(log.get.toArray), "ms")
    res.metric("filtered_get_p50_ms", Stats.median(log.filtered.toArray), "ms")
    res.metric("query_p50_ms", Stats.median(log.query.toArray), "ms")
    // ops over the time spent inside store calls; puts over the time
    // of the puts and of the publishes that flush them
    res.metric("ops_per_s", log.ops / log.storeS, "1/s")
    res.metric("ingest.puts_per_s", log.putsPerS, "1/s")
    res.info("wall_ops_per_s") = log.ops / wall
    res.metric("ingest.publish_s", Stats.median(log.publishS.toArray), "s")
    res.info("experiments_published") = log.experiments
    res.info("ops") = Map("put" -> log.put.size, "get" -> log.get.size,
      "filtered" -> log.filtered.size, "query" -> log.query.size)
    res.info("tails") = Map("put" -> log.put, "get" -> log.get, "filtered" -> log.filtered,
      "query" -> log.query).map { case (k, xs) => k -> Stats.tail(xs.toArray) }
    val putBytes = etl.map(_.payloadBytes).sum + warm.putBytes + log.putBytes
    res.metric("table.write_amp", dirBytes(storeDir).toDouble / putBytes, "ratio")
    res.metric("table.files_per_flush",
      (parquetFiles(storeDir) - filesBefore).toDouble / log.experiments, "count")

    Main.log(s"produce phase done: ${log.experiments} experiments")
    // the maintenance tail feeds only per-layer metrics: it runs, timed
    // and checked, in the traced run
    if (ctx.trace) {
      maintain(ctx, res, store, newNames.map(Corpus.experiment(ctx.seed, _)), etl, names)
      traceMetrics(ctx, res, store, tree, Stats.median(log.publishS.toArray))
    } else res.metric("live_heap_mb", heapMb, "MB")
  }

  /** Re-run, delete, compaction, bulk import and the durability probe. */
  private def maintain(ctx: Ctx, res: Result, store: TableStore, produced: Seq[Seq[Asset]],
                       etl: Seq[Asset], names: Seq[String]): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    val storeDir = Path.of(store.basedir)
    val tree = new JsonFileStore(ctx.workDir.resolve("tree1").toString)
    // re-run of part of the first experiment: same keys, new payloads;
    // the publish must still list the whole experiment
    val first = produced.head
    val rerun = Corpus.configsFirst(Corpus.experiment(ctx.seed, first.head.experiment, payloadTag = "#rerun"))
      .take(RerunAssets)
    locally {
      val lock = store.lock()
      try {
        rerun.foreach { a => a.put(store); res.check(ok = true, "") }
        val want = Corpus.catalogExpect(first, jsonBackend = false)
        val got = store.query(kwargs = pe(first.head.experiment))
        res.check(want.matches(got), s"re-run publish: routes ${want.histogram(got)} != ${want.routeCounts}")
        rerun.takeRight(3).foreach(a => res.check(a.matches(a.get(store)), s"re-run ${a.uri}: old payload"))
      } finally lock.close()
    }
    // delete of the second
    val gone = produced(1)
    rec.span("store.rm_experiment")(store.rmExperimentData(Corpus.Project, gone.head.experiment))
    val left = store.query(kwargs = pe(gone.head.experiment))
    res.check(left.isEmpty, s"rmExperimentData left ${left.size} entries")
    val probe = gone.find(_.route == Route.Config).get
    res.check(store.getConfig(Corpus.Project, probe.experiment, default = Some(AssetValue.Json("gone"))) ==
      AssetValue.Json("gone"), "deleted config still readable")

    Main.log("re-run and delete done")
    // compaction of every table, tables in parallel
    val tables = TableStore.tables.keys.filter(t => Files.exists(storeDir.resolve(t))).toSeq.sorted
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    val compactS = try {
      val t0 = System.nanoTime()
      rec.span("table.compact") {
        tables.map(t => pool.submit[Unit](() => store.compact(t))).foreach(_.get())
      }
      (System.nanoTime() - t0) / 1e9
    } finally pool.shutdown()
    res.metric("table.compact_s", compactS, "s")
    val rerunKeys = rerun.map(_.uri).toSet
    val live = rerun ++ first.filterNot(a => rerunKeys(a.uri)) ++ produced.drop(2).flatten ++ etl
    res.metric("ingest.space_amp", dirBytes(storeDir).toDouble / live.map(_.payloadBytes).sum, "ratio")
    // after compaction every live asset must still read back
    val after = new SplittableRandom(ctx.seed)
    (0 until 4).foreach { _ =>
      val a = live(after.nextInt(live.size))
      res.check(a.matches(a.get(store)), s"post-compact ${a.uri}: wrong payload")
    }

    Main.log(f"compaction done: $compactS%.2fs")
    // the distributed bulk import of a corpus tree into a fresh store
    val bulkDest = new TableStore(spark, ctx.workDir.resolve("bulk").toString)
    var imported = 0L
    val bulkS = timed { imported = rec.span("etl.bulk_import")(graft.etl.CopyDb.bulkImport(spark, tree, bulkDest)) }
    res.check(imported == etl.size, s"bulkImport imported $imported of ${etl.size}")
    // a legacy map (its rows key `time` as NULL) must read back by key
    val legacyMap = etl.find(a => a.experiment == names.head && a.route == Route.MapRoute).get
    res.check(legacyMap.matches(legacyMap.get(bulkDest)), s"bulk: ${legacyMap.uri}: wrong payload")
    res.metric("etl.bulk_import_s", bulkS, "s")
    Main.log(f"bulk import done: $bulkS%.2fs")
    res.metric("etl.bulk_import_assets_per_s", etl.size / bulkS, "1/s")

    // durability probe: acknowledged puts, then the instance is dropped
    // without close() and the directory reopened by a fresh one
    val probeDir = ctx.workDir.resolve("probe").toString
    val batch = Corpus.configsFirst(Corpus.experiment(ctx.seed, "probe")).take(ProbeBatch)
    locally {
      val writer = new TableStore(spark, probeDir)
      batch.foreach(_.put(writer))
    }
    val reopened = new TableStore(spark, probeDir)
    val found = reopened.query(kwargs = pe("probe")).size
    res.metric("ingest.acked_lost_frac", (batch.size - found).toDouble / batch.size, "fraction")
    res.info("acked_lost") = batch.size - found
  }

  private def timed(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def traceMetrics(ctx: Ctx, res: Result, store: TableStore, tree: JsonFileStore,
                           publishS: Double): Unit = {
    val rec = ctx.rec
    // the catalog build the bulk import runs first, on its own
    val catS = timed(rec.span("catalog.ingest")(graft.catalog.Catalog.ingest(ctx.spark, tree.basedir.toString).count()))
    rec.drain()
    Probes.queryEntry(rec, tree)
    Probes.report(res, rec)
    res.metric("table.put_us", rec.meanUs("table.put"), "us")
    res.metric("table.flush_ms", rec.meanUs("table.flush") / 1000, "ms")
    val flush = rec.sparkCost(rec.named("table.flush"))
    res.metric("table.flush_jobs", flush.jobs, "count")
    res.metric("table.rows_per_flush", flush.rowsWritten, "count")
    res.metric("table.compact_bytes_rewritten", rec.sparkCost(rec.named("table.compact")).bytesWritten, "bytes")
    res.metric("table.flush_frac", Probes.frac(rec.meanUs("table.flush") / 1e6, publishS), "fraction")
    Probes.tableReads(res, rec, rec.named("store.get") ++ rec.named("store.filtered_get"),
      rec.named("catalog.publish"))
    res.metric("table.parquet_files", parquetFiles(Path.of(store.basedir)).toDouble, "count")
    val cat = rec.sparkCost(rec.named("catalog.ingest"))
    res.metric("catalog.ingest_s", catS, "s")
    res.metric("catalog.ingest_jobs", cat.jobs, "count")
    val bulk = rec.sparkCost(rec.named("etl.bulk_import"))
    res.metric("etl.bulk_import_jobs", bulk.jobs, "count")
    res.metric("etl.bulk_import_job_s", bulk.jobMs / 1000, "s")
    res.metric("etl.bulk_import_driver_s", bulk.driverMs / 1000, "s")
    res.metric("etl.bulk_import_job_frac", Probes.frac(bulk.jobMs, bulk.jobMs + bulk.driverMs), "fraction")
  }
}
