package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.core.{AssetValue, Route}
import graft.store.JsonFileStore

/** The web API's read mix over one generated corpus on `JsonFileStore`:
  * about half point gets (typed getters and `getByUri`, blobs
  * included), a third filtered gets, a tenth catalog calls (`query`,
  * `listTimeseries`, `listMap`, `listExperiments`). Closed loop with
  * one client per two processors, each on its own op sequence: a
  * client's next request goes when its last returns.
  * Experiments draw traffic by a Zipf law; within an experiment every
  * asset is equally likely, so point gets span the whole corpus while
  * filtered gets stay on the few documents the LRU caches hold. The
  * weights and the Zipf exponent are assumptions, not measured
  * traffic. Only the store call is timed; the oracle check runs
  * after it. The timed pass's times are scaled by a `HostProbe` its
  * clients run between ops. */
object Serve {
  val Experiments = 20

  sealed trait Op { def kind: String }
  final case class PointGet(asset: Asset, viaUri: Boolean) extends Op { def kind = "get" }
  final case class Filtered(read: FilteredRead) extends Op { def kind = "filtered" }
  final case class Catalog(call: String, experiment: String) extends Op { def kind = call }

  /** The corpus, its oracle and the traffic model for one seed. */
  final class Model(seed: Long, val names: Seq[String] = Corpus.experimentNames(Experiments)) {
    val byExp: Map[String, Seq[Asset]] =
      names.zip(Main.parMap(names)(n => Corpus.experiment(seed, n, legacy = n == names.head))).toMap
    val project: Seq[Asset] = Corpus.projectAssets(seed, names)
    val assets: Seq[Asset] = names.flatMap(byExp) ++ project
    val filtered: Map[String, Seq[FilteredRead]] =
      names.zip(Main.parMap(names)(n => Corpus.filteredReads(byExp(n)))).toMap
    val catalog: Map[String, CatalogExpect] =
      names.zip(Main.parMap(names)(n => Corpus.catalogExpect(byExp(n), jsonBackend = true))).toMap

    /** Zipf(1) weights over a seed-permuted experiment order. */
    private val zipfOrder: Array[String] = {
      val r = new SplittableRandom(seed ^ 0x5eedL)
      val a = names.toArray
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    private val cdf: Array[Double] = {
      val w = zipfOrder.indices.map(i => 1.0 / (i + 1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private def pickExp(r: SplittableRandom): String = {
      val u = r.nextDouble()
      zipfOrder(cdf.indexWhere(_ >= u) max 0)
    }

    /** The op sequence. It comes in blocks of 112 ops with a fixed
      * make-up, shuffled by the seed: 60 point gets, 40 filtered gets,
      * 7 `query(project, experiment)`, 2 `listTimeseries`, 2 `listMap`
      * and one `listExperiments` (a whole-project walk, the one call a
      * page makes once). A pass runs whole blocks, so every run does
      * the same mix of work whatever its seed and speed. Each client
      * draws its own sequence. */
    def ops(client: Int): Iterator[Op] = {
      val r = new SplittableRandom(seed * 7919L + client)
      val kinds = Array.fill(60)(0) ++ Array.fill(40)(1) ++ Array.fill(7)(2) ++ Array(3, 3, 4, 4, 5)
      Iterator.continually {
        for (i <- kinds.indices.reverse) { val j = r.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t }
        kinds.toSeq.map { k =>
          val e = pickExp(r)
          k match {
            case 0 =>
              val pool = if (r.nextInt(500) == 0) project else byExp(e)
              PointGet(pool(r.nextInt(pool.size)), r.nextBoolean())
            case 1 => val f = filtered(e); Filtered(f(r.nextInt(f.size)))
            case 2 => Catalog("query", e)
            case 3 => Catalog("list_timeseries", e)
            case 4 => Catalog("list_map", e)
            case _ => Catalog("list_experiments", e)
          }
        }
      }.flatten
    }
  }

  val Block = 112

  /** Run one op against `store`, check it against the oracle, and
    * return the time of the store call alone, in ms: building the
    * request, the probes and the check are outside it. */
  final class Runner(val store: JsonFileStore, model: Model, val res: Result, rec: Recorder) {
    private val expect = model.catalog
    private val expNames = model.names.sorted

    def run(op: Op): Double = rec.request(op match {
      case PointGet(a, viaUri) =>
        val (v, ms) = if (viaUri) {
          val uri = Probes.uri(rec, a)
          timed(rec.span("store.get")(store.getByUri(uri)))
        } else timed(rec.span("store.get")(a.get(store)))
        res.check(a.matches(v), s"get ${a.uri}: wrong payload")
        ms
      case Filtered(f) =>
        Probes.filters(rec, f)
        val (v, ms) = timed(rec.span("store.filtered_get")(f.run(store)))
        res.check(f.matches(v), s"${f.kind} ${f.source.uri} ${f.params}: wrong sub-document")
        ms
      case Catalog(call, e) =>
        def want = expect(e)
        def span[T](body: => T) = timed(rec.span("catalog." + call)(body))
        call match {
          case "query" =>
            val (got, ms) = span(store.query(kwargs = Map("project" -> Corpus.Project, "experiment" -> e)))
            if (rec.enabled) countFiles(e, got.size)
            res.check(want.matches(got), s"query $e: routes ${want.histogram(got)} != ${want.routeCounts}")
            ms
          case "list_timeseries" =>
            val (got, ms) = span(store.listTimeseries(Corpus.Project, e))
            res.check(got.size == want.timeseries, s"listTimeseries $e: ${got.size} != ${want.timeseries}")
            ms
          case "list_map" =>
            val (got, ms) = span(store.listMap(Corpus.Project, e))
            res.check(got.size == want.maps, s"listMap $e: ${got.size} != ${want.maps}")
            ms
          case "list_experiments" =>
            val (got, ms) = span(store.listExperiments(Corpus.Project))
            res.check(got == expNames, s"listExperiments: $got")
            ms
        }
    })

    private def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e6)
    }

    private var filesWalked = 0L
    private var entriesReturned = 0L
    private def countFiles(e: String, entries: Int): Unit = {
      val w = Files.walk(store.basedir.resolve(Corpus.Project).resolve(graft.codec.ArgCodec.encodeFname(e)))
      try filesWalked += w.iterator().asScala.count(Files.isRegularFile(_))
      finally w.close()
      entriesReturned += entries
    }
    def filesPerResult: Double = if (entriesReturned == 0) 0.0 else filesWalked.toDouble / entriesReturned
  }

  /** Store-call latencies (ms) per op kind from one pass of `clients`
    * clients, and its wall time. */
  final class Pass(val byKind: Map[String, Array[Double]], val wallS: Double, val clients: Int) {
    def ops: Int = byKind.values.map(_.length).sum
    /** Ops per second of the clients were they in store calls all the
      * time: the oracle checks they also make are left out. */
    def storeOpsPerS: Double = ops / (byKind.values.map(_.sum).sum / 1000 / clients)
  }

  /** Ops between two samples of the host probe: four per block, about
    * 2% of a client's time. */
  val ProbeEvery = 28

  /** Closed loop, `clients` threads: each runs its op sequence until
    * `seconds` have passed, finishing the block in flight, or until
    * `maxOps` ops. With a `probe`, each client samples it every
    * `ProbeEvery` ops, outside the timed store calls. */
  def pass(runner: Runner, model: Model, seconds: Double, maxOps: Int = Int.MaxValue,
           clients: Int = 1, probe: Option[HostProbe] = None): Pass = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    def client(c: Int): Map[String, ArrayBuffer[Double]] = {
      val log = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
      val it = model.ops(c)
      var n = 0
      while ((System.nanoTime() < deadline || n % Block != 0) && n < maxOps) {
        val op = it.next()
        try { val ms = runner.run(op); log.getOrElseUpdate(op.kind, ArrayBuffer.empty) += ms }
        catch {
          case e: Exception =>
            runner.res.check(ok = false, s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        if (n % ProbeEvery == 0) probe.foreach(_.sample(n / ProbeEvery + 7 * c))
        n += 1
      }
      log.toMap
    }
    val logs = if (clients == 1) Seq(client(0)) else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
      try (0 until clients).map(c => pool.submit(() => client(c))).map(_.get())
      finally { pool.shutdown(); pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES) }
    }
    val byKind = logs.flatMap(_.keys).distinct.map(k => k -> logs.flatMap(_.getOrElse(k, Nil)).toArray).toMap
    new Pass(byKind, (System.nanoTime() - t0) / 1e9, clients)
  }

  def run(ctx: Ctx, res: Result): Unit = {
    // set-up: generate the corpus and its oracle, and load the corpus
    // through the typed putters into a fresh tree, four times; the
    // last tree is served
    var model: Model = null
    var store: JsonFileStore = null
    Main.setup(res, 4) { i =>
      model = new Model(ctx.seed)
      store = load(model, ctx.workDir.resolve(s"json$i"))
    }
    // the store has read nothing yet; its caches and memos fill while
    // it serves
    val heap0 = if (ctx.trace) 0.0 else Main.liveHeapMb()
    res.info("assets") = model.assets.size
    res.info("experiments") = model.names.size

    val runner = new Runner(store, model, res, ctx.rec)
    val clients = if (ctx.trace) 1 else clientsFor(ctx.cpus)
    warmUp(runner, model, clients)
    Main.log("warm-up done")

    if (!ctx.trace) {
      res.clients = clients
      val probe = new HostProbe(ctx.workDir.resolve("host-probe"))
      report(res, pass(runner, model, ctx.seconds, clients = clients, probe = Some(probe)), probe)
      // the heap the store holds while it is still in use, over the
      // heap before it served
      res.metric("live_heap_mb", Main.liveHeapMb() - heap0, "MB")
      java.lang.ref.Reference.reachabilityFence(runner)
    } else {
      // the same sequence untraced, then traced; the difference is the
      // tracing overhead
      val untraced = pass(new Runner(store, model, res, new Recorder(false)), model, ctx.seconds)
      val traced = pass(runner, model, ctx.seconds, maxOps = untraced.ops)
      res.metric("trace_overhead_frac",
        (traced.wallS / traced.ops) / (untraced.wallS / untraced.ops) - 1, "fraction")
      layerMetrics(ctx, res, store, runner)
    }
  }

  /** Write every asset through the typed putters into a fresh tree,
    * one writer per processor, each an experiment at a time (its
    * config first: the other paths depend on its version). */
  def load(model: Model, dir: Path): JsonFileStore = {
    val js = new JsonFileStore(dir.toString)
    Main.parMap(model.names.map(model.byExp) :+ model.project)(as => Corpus.configsFirst(as).foreach(_.put(js)))
    js
  }

  /** Closed-loop clients of the timed pass on `cpus` processors. On a
    * shared 4-vCPU VM, twelve 20 s passes with two clients, interleaved
    * with twelve with four, spread half as much (point-get median: 0.11
    * against 0.25 of the median): four clients leave the JVM's own
    * threads and the kernel no processor of their own, and one client
    * takes on the speed of whichever processor it runs on. */
  def clientsFor(cpus: Int): Int = math.max(1, cpus / 2)

  /** One untimed pass: every filtered view once (the caches reach
    * their steady state), then the op sequence with the timed pass's
    * clients for `WarmUpS` seconds; with a shorter warm-up the first
    * seconds of the timed pass still ran a fifth slower (JIT). */
  val WarmUpS = 5
  private def warmUp(runner: Runner, model: Model, clients: Int): Unit = {
    val r = new Runner(runner.store, model, new Result, new Recorder(false))
    model.filtered.values.flatten.foreach(f => r.run(Filtered(f)))
    pass(r, model, WarmUpS, clients = clients)
  }

  /** The end-to-end metrics of a timed pass, scaled by `probe` (a
    * time times its factor, a rate over it); the measured figures and
    * the probe's median and factor go to the record. */
  private def report(res: Result, p: Pass, probe: HostProbe): Unit = {
    def kind(k: String) = p.byKind.getOrElse(k, Array.empty[Double])
    val measured = Map(
      "get_p50_ms" -> Stats.median(kind("get")),
      "filtered_get_p50_ms" -> Stats.median(kind("filtered")),
      "query_p50_ms" -> Stats.median(kind("query")),
      "ops_per_s" -> p.storeOpsPerS)
    val f = probe.scale
    measured.foreach { case (name, v) =>
      if (name.endsWith("_ms")) res.metric(name, v * f, "ms") else res.metric(name, v / f, "1/s")
    }
    res.info("measured") = measured
    res.info("host_probe") = Map("median_ms" -> probe.medianMs, "ref_ms" -> HostProbe.RefMs,
      "exponent" -> HostProbe.Exponent, "scale" -> f, "samples" -> probe.count.toDouble)
    res.info("wall_ops_per_s") = p.ops / p.wallS
    res.info("p50_ms") = p.byKind.map { case (k, xs) => k -> Stats.median(xs) }
    res.info("ops") = p.byKind.view.mapValues(_.length).toMap
    res.info("tails") = p.byKind.map { case (k, xs) => k -> Stats.tail(xs) }
  }

  private def layerMetrics(ctx: Ctx, res: Result, store: JsonFileStore, runner: Runner): Unit = {
    val rec = ctx.rec
    Probes.lock(rec, store)
    Probes.queryEntry(rec, store)
    val (h, m) = (store.cacheHits.get, store.cacheMisses.get)
    res.metric("json.file_cache_hit_ratio", if (h + m == 0) 0.0 else h.toDouble / (h + m), "ratio")
    res.metric("json.contour_prime_hits", store.contourPrimeHits.get.toDouble, "count")
    res.metric("json.query_files_per_result", runner.filesPerResult, "ratio")
    Probes.report(res, rec)
  }
}
