package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.store.{AssetStore, JsonFileStore}

/** Traced-run probes of single layers, timed as spans around the
  * benchmark's own calls into each, and the per-layer figures derived
  * from the spans. Every probe is a no-op when the recorder is off. */
object Probes {
  /** Build the asset's request URI and parse it back (codec layer). */
  def uri(rec: Recorder, a: Asset): String = {
    val uri = rec.span("codec.uri_build")(a.uri)
    if (rec.enabled) rec.span("codec.uri_parse")(graft.codec.UriCodec.parse(uri))
    uri
  }

  /** The filter layer's three steps on the document a filtered read
    * hits: parse, apply, serialize. */
  def filters(rec: Recorder, f: FilteredRead): Unit = if (rec.enabled) {
    import graft.filters.{ContentFilters, JsonUtil}
    val node = rec.span("filters.parse")(JsonUtil.parse(f.source.json))
    val out = rec.span("filters.apply") {
      if (f.kind == "contour") ContentFilters.filterContour(node, f.params.get("timestep"))
      else AssetStore.applyFilter(f.filterRoute, node, f.params)
    }
    rec.span("filters.serialize")(JsonUtil.serialize(out))
  }

  /** Reverse-parse of catalog entries from file paths, on a fresh
    * handle (a store memoises it), over the first files of `tree`. */
  def queryEntry(rec: Recorder, tree: JsonFileStore): Unit = if (rec.enabled) {
    val cold = new JsonFileStore(tree.basedir.toString)
    val w = Files.walk(tree.basedir)
    val files = try w.iterator().asScala.filter(Files.isRegularFile(_)).take(300).toSeq finally w.close()
    files.foreach(f => rec.span("json.query_entry")(cold.queryEntryForFile(f)))
  }

  /** The store's whole-database advisory lock, taken and released. */
  def lock(rec: Recorder, store: AssetStore): Unit = if (rec.enabled)
    (1 to 20).foreach(_ => rec.span("lock.acquire")(store.lock()).close())

  /** Spark cost of TableStore point reads and catalog queries, as job
    * counts and the share of wall time inside jobs and in planning;
    * the absolute times go to the run record. */
  def tableReads(res: Result, rec: Recorder, gets: Seq[Span], queries: Seq[Span]): Unit = {
    val g = rec.sparkCost(gets)
    res.metric("table.get_jobs", g.jobs, "count")
    res.metric("table.get_stages", g.stages, "count")
    res.metric("table.get_tasks", g.tasks, "count")
    res.metric("table.get_bytes_read", g.bytesRead, "bytes")
    res.metric("table.get_job_ms", g.jobMs, "ms")
    res.metric("table.get_driver_ms", g.driverMs, "ms")
    res.metric("table.get_plan_ms", g.planMs, "ms")
    res.metric("table.get_job_frac", frac(g.jobMs, g.jobMs + g.driverMs), "fraction")
    res.metric("table.get_plan_frac", frac(g.planMs, g.jobMs + g.driverMs), "fraction")
    val q = rec.sparkCost(queries)
    res.metric("table.query_jobs", q.jobs, "count")
    res.metric("table.query_job_ms", q.jobMs, "ms")
    res.metric("table.query_driver_ms", q.driverMs, "ms")
    res.metric("table.query_job_frac", frac(q.jobMs, q.jobMs + q.driverMs), "fraction")
  }

  /** Mean span times of the probes every workload runs. */
  def report(res: Result, rec: Recorder): Unit =
    Seq("codec.uri_build", "codec.uri_parse", "filters.parse", "filters.apply", "filters.serialize",
      "json.query_entry", "lock.acquire").foreach(n => res.metric(n + "_us", rec.meanUs(n), "us"))

  def frac(part: Double, whole: Double): Double = if (whole <= 0) 0.0 else part / whole
}
