package perfbench

import java.util.SplittableRandom

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.core.{AccessType, AssetValue, Route}
import graft.codec.UriCodec
import graft.store.AssetStore

/** One generated asset: its route key and its payload (JSON text, or
  * bytes for the two blob routes). `args` are the route template's
  * placeholders; `kwargs` the key parts that travel outside the
  * template (map/scatter `time`, heatmap-timeseries region/network/
  * obsvar/layer, experiment-level models-style `experiment`). */
final case class Asset(route: Route, experiment: String,
                       args: Map[String, String], kwargs: Map[String, String],
                       json: String, blob: Array[Byte]) {
  def isBlob: Boolean = blob != null
  def payloadBytes: Long = if (isBlob) blob.length.toLong else json.length.toLong
  /** The request URI a client sends for this asset. */
  def uri: String = UriCodec.build(route, args, kwargs)

  private def a(k: String) = args(k)
  private def p = a("project")
  private def e = a("experiment")

  /** Store it through the route's typed putter. */
  def put(store: AssetStore): Unit = route match {
    case Route.GlobStats         => store.putGlobStats(json, p, e, a("frequency"))
    case Route.Contour           => store.putContour(json, p, e, a("obsvar"), a("model"))
    case Route.ContourTimesplit  => store.putContour(json, p, e, a("obsvar"), a("model"), Some(a("timestep")))
    case Route.Timeseries        => store.putTimeseries(json, p, e, a("location"), a("network"), a("obsvar"), a("layer"))
    case Route.TimeseriesWeekly  => store.putTimeseriesWeekly(json, p, e, a("location"), a("network"), a("obsvar"), a("layer"))
    case Route.Experiments       => store.putExperiments(json, p)
    case Route.Config            => store.putConfig(json, p, e)
    case Route.Menu              => store.putMenu(json, p, e)
    case Route.Statistics        => store.putStatistics(json, p, e)
    case Route.Ranges            => store.putRanges(json, p, e)
    case Route.Regions           => store.putRegions(json, p, e)
    case Route.ModelsStyle       => store.putModelsStyle(json, p, kwargs.get("experiment"))
    case Route.MapRoute          => store.putMap(json, p, e, a("network"), a("obsvar"), a("layer"), a("model"), a("modvar"), kwargs("time"))
    case Route.Scatter           => store.putScatter(json, p, e, a("network"), a("obsvar"), a("layer"), a("model"), a("modvar"), kwargs("time"))
    case Route.Profiles          => store.putProfiles(json, p, e, a("location"), a("network"), a("obsvar"))
    case Route.HeatmapTimeseries => store.putHeatmapTimeseries(json, p, e, kwargs("region"), kwargs("network"), kwargs("obsvar"), kwargs("layer"))
    case Route.Forecast          => store.putForecast(json, p, e, a("region"), a("network"), a("obsvar"), a("layer"))
    case Route.Fairmode          => store.putFairmode(json, p, e, a("region"), a("network"), a("obsvar"), a("layer"), a("model"), a("time"))
    case Route.GriddedMap        => store.putGriddedMap(json, p, e, a("obsvar"), a("model"))
    case Route.Report            => store.putReport(json, p, e, a("title"))
    case Route.ReportImage       => store.putReportImage(blob, p, e, a("path"))
    case Route.MapOverlay        => store.putMapOverlay(blob, p, e, a("source"), a("variable"), a("date"))
    case other => throw new IllegalArgumentException(s"no typed putter for $other")
  }

  /** Read it back through the route's typed getter; blobs come back
    * as `AssetValue.Blob`. */
  def get(store: AssetStore): AssetValue = route match {
    case Route.GlobStats         => store.getGlobStats(p, e, a("frequency"))
    case Route.Contour           => store.getByUri(uri)
    case Route.ContourTimesplit  => store.getByUri(uri)
    case Route.Timeseries        => store.getTimeseries(p, e, a("location"), a("network"), a("obsvar"), a("layer"))
    case Route.TimeseriesWeekly  => store.getTimeseriesWeekly(p, e, a("location"), a("network"), a("obsvar"), a("layer"))
    case Route.Experiments       => store.getExperiments(p)
    case Route.Config            => store.getConfig(p, e)
    case Route.Menu              => store.getMenu(p, e)
    case Route.Statistics        => store.getStatistics(p, e)
    case Route.Ranges            => store.getRanges(p, e)
    case Route.Regions           => store.getRegions(p, e)
    case Route.ModelsStyle       => store.getModelsStyle(p, kwargs.get("experiment"))
    case Route.MapRoute          => store.getMap(p, e, a("network"), a("obsvar"), a("layer"), a("model"), a("modvar"), kwargs("time"))
    case Route.Scatter           => store.getScatter(p, e, a("network"), a("obsvar"), a("layer"), a("model"), a("modvar"), kwargs("time"))
    case Route.Profiles          => store.getProfiles(p, e, a("location"), a("network"), a("obsvar"))
    case Route.HeatmapTimeseries => store.getHeatmapTimeseries(p, e, kwargs("region"), kwargs("network"), kwargs("obsvar"), kwargs("layer"))
    case Route.Forecast          => store.getForecast(p, e, a("region"), a("network"), a("obsvar"), a("layer"))
    case Route.Fairmode          => store.getFairmode(p, e, a("region"), a("network"), a("obsvar"), a("layer"), a("model"), a("time"))
    case Route.GriddedMap        => store.getGriddedMap(p, e, a("obsvar"), a("model"))
    case Route.Report            => store.getReport(p, e, a("title"))
    case Route.ReportImage       => AssetValue.Blob(store.getReportImage(p, e, a("path")))
    case Route.MapOverlay        => AssetValue.Blob(store.getMapOverlay(p, e, a("source"), a("variable"), a("date")))
    case other => throw new IllegalArgumentException(s"no typed getter for $other")
  }

  /** Does a value read back equal this asset's payload? */
  def matches(v: AssetValue): Boolean = v match {
    case AssetValue.Json(s) => !isBlob && s == json
    case AssetValue.Blob(b) => isBlob && java.util.Arrays.equals(b, blob)
    case _ => false
  }
}

/** A filtered read: the web API's sub-document views of one stored
  * document, with the sub-document the oracle expects. */
final case class FilteredRead(kind: String, source: Asset, params: Map[String, String],
                              expected: JsonNode) {
  private def p = source.args("project")
  private def e = source.args("experiment")

  def run(store: AssetStore): AssetValue = kind match {
    case "regional_stats" =>
      store.getRegionalStats(p, e, source.args("frequency"), params("network"),
        params("variable"), params("layer"))
    case "heatmap" =>
      store.getHeatmap(p, e, source.args("frequency"), params("region"), params("time"))
    case "map" =>
      val a = source.args
      store.getMap(p, e, a("network"), a("obsvar"), a("layer"), a("model"), a("modvar"),
        source.kwargs("time"), Some(params("frequency")), Some(params("season")), cache = true)
    case "contour" =>
      store.getContour(p, e, source.args("obsvar"), source.args("model"), params("timestep"),
        cache = true)
  }

  /** The filter the store applies, as `AssetStore.applyFilter` args. */
  def filterRoute: Route = kind match {
    case "regional_stats" => Route.RegionalStats
    case "heatmap" => Route.Heatmap
    case "map" => Route.MapRoute
    case "contour" => Route.Contour
  }

  def matches(v: AssetValue): Boolean = v match {
    case AssetValue.Json(s) => Corpus.mapper.readTree(s) == expected
    case _ => false
  }
}

/** Expected catalog content of one experiment, per backend: the
  * route histogram `query(project, experiment)` returns and the
  * timeseries / map listing sizes. */
final case class CatalogExpect(routeCounts: Map[Route, Int], timeseries: Int, maps: Int) {
  def histogram(entries: Seq[graft.core.QueryEntry]): Map[Route, Int] =
    entries.groupBy(_.route).view.mapValues(_.size).toMap
  def matches(entries: Seq[graft.core.QueryEntry]): Boolean = histogram(entries) == routeCounts
}

/** The seeded aeroval corpus generator and its oracle.
  *
  * Every payload, every filtered sub-document and every catalog count
  * is computed here from the generator's own data, never by asking a
  * store, so a store that returns a wrong, missing or stale document
  * is caught. The corpus shape (asset counts per route) is fixed; the
  * seed picks names, values and traffic order, so runs with different
  * seeds do the same amount of work. */
object Corpus {
  val mapper = new ObjectMapper()

  val Project = "bench"
  val ModernVersion = "0.30.0"
  /** Pre-0.13.2 data generation: version-dependent path templates
    * (no `time` in map/scatter file names, region-less heatmap
    * timeseries), read back through TableStore's NULL-matching keys. */
  val LegacyVersion = "0.13.1"

  val Frequency = "monthly"
  val Regions = Seq("ALL", "EUROPE", "ASIA", "AFRICA")
  val HeatTimes = Seq("2019-all", "2020-all")
  val Layers = Seq("Column", "Surface")
  val Models = Seq("EMEP", "IFS", "ENS")
  val Seasons = Seq("DJF", "MAM", "JJA", "SON", "all")
  val Timesteps = (0 until 6).map(i => (1577836800000L + i * 86400000L).toString)
  private val NetworkPool = Seq("AERONETSun", "EEAUTD", "EBASmc", "GAWTAD", "AirNow", "MarcoPolo")
  private val ObsvarPool = Seq("od550aer", "concpm10", "concpm25", "vmro3", "ang4487aer", "concno2")
  val Locations = 80
  val WeeklyLocations = 20
  val ProfileLocations = 20

  /** Assets per (modern) experiment; the legacy experiment has fewer
    * heatmap timeseries (its layout keys them without a region). */
  val AssetsPerExperiment: Int = 2 * 2 * Locations + 2 * 2 * WeeklyLocations + 12 + 12 +
    ProfileLocations + 8 + 8 + 8 + 2 + Timesteps.size + 2 + 1 + 6 + 2 + 2 + 2

  private def rng(seed: Long, tag: String) = new SplittableRandom(seed * 1000003L ^ tag.hashCode.toLong)

  /** Experiment names: the first one legacy, the rest modern. */
  def experimentNames(n: Int): Seq[String] =
    (0 until n).map(i => if (i == 0) "legacy-exp" else f"exp$i%02d")

  private def obj(kv: (String, JsonNode)*): ObjectNode = {
    val o = mapper.createObjectNode()
    kv.foreach { case (k, v) => o.set[JsonNode](k, v) }
    o
  }
  private def num(r: SplittableRandom): JsonNode = mapper.getNodeFactory.numberNode(r.nextInt(100000))
  private def txt(s: String): JsonNode = mapper.getNodeFactory.textNode(s)
  private def ints(r: SplittableRandom, n: Int): ArrayNode = {
    val a = mapper.createArrayNode(); (0 until n).foreach(_ => a.add(r.nextInt(100000))); a
  }
  private def keyOf(route: Route, args: Map[String, String], kwargs: Map[String, String]): String =
    (route.name +: (args ++ kwargs).toSeq.sorted.map { case (k, v) => s"$k=$v" }).mkString("|")

  /** A plain document that embeds its own key. */
  private def doc(r: SplittableRandom, key: String, n: Int): String =
    mapper.writeValueAsString(obj("_key" -> txt(key), "data" -> ints(r, n)))

  /** A small PNG-magic blob that embeds its key. */
  private def png(key: String): Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++ key.getBytes("UTF-8")

  /** glob_stats: variable → network → layer → model → modvar →
    * region → time → stats. */
  private def globStats(r: SplittableRandom, key: String, nets: Seq[String],
                        vars: Seq[String]): ObjectNode = {
    val root = obj("_key" -> txt(key))
    for (v <- vars) {
      val vo = obj(); root.set[JsonNode](v, vo)
      for (n <- nets) {
        val no = obj(); vo.set[JsonNode](n, no)
        for (l <- Layers) {
          val lo = obj(); no.set[JsonNode](l, lo)
          for (m <- Models.take(2)) {
            val mo = obj(); lo.set[JsonNode](m, mo)
            val mvo = obj(); mo.set[JsonNode](v, mvo)
            for (reg <- Regions) {
              val ro = obj(); mvo.set[JsonNode](reg, ro)
              for (t <- HeatTimes) ro.set[JsonNode](t, obj("nmb" -> num(r), "R" -> num(r)))
            }
          }
        }
      }
    }
    root
  }

  /** The heatmap filter's result, built from the generator's shape:
    * every upper key kept as a shell, only `[region][time]` leaves. */
  private def expectHeatmap(gs: ObjectNode, region: String, time: String): JsonNode = {
    val out = obj()
    gs.properties().forEach { ve =>
      val vOut = obj(); out.set[JsonNode](ve.getKey, vOut)
      // the embedded `_key` string has no children: an empty shell
      ve.getValue.properties().forEach { ne =>
        val nOut = obj(); vOut.set[JsonNode](ne.getKey, nOut)
        ne.getValue.properties().forEach { le =>
          val lOut = obj(); nOut.set[JsonNode](le.getKey, lOut)
          le.getValue.properties().forEach { me =>
            val mOut = obj(); lOut.set[JsonNode](me.getKey, mOut)
            me.getValue.properties().forEach { mve =>
              val mvOut = obj(); mOut.set[JsonNode](mve.getKey, mvOut)
              mvOut.set[JsonNode](region, obj(time -> mve.getValue.get(region).get(time)))
            }
          }
        }
      }
    }
    out
  }

  private val StationFields = Seq("station_name", "latitude", "longitude", "altitude",
    "region", "station_display_name")

  /** map: an array of station records with per-frequency, per-season
    * statistics. */
  private def mapDoc(r: SplittableRandom, key: String): ArrayNode = {
    val a = mapper.createArrayNode()
    for (s <- 0 until 6) {
      val st = obj("_key" -> txt(key))
      StationFields.foreach(f => st.set[JsonNode](f, txt(s"$f-$s-${r.nextInt(1000)}")))
      for (freq <- Seq("monthly", "yearly")) {
        val fo = obj(); st.set[JsonNode](freq, fo)
        Seasons.foreach(se => fo.set[JsonNode](se, obj("nmb" -> num(r), "data" -> ints(r, 4))))
      }
      st.set[JsonNode]("extra", ints(r, 4))
      a.add(st)
    }
    a
  }

  /** The map filter's result: station fields plus the one frequency,
    * narrowed to the one season. */
  private def expectMap(doc: ArrayNode, freq: String, season: String): JsonNode = {
    val out = mapper.createArrayNode()
    doc.forEach { st =>
      val o = obj()
      StationFields.foreach(f => o.set[JsonNode](f, st.get(f)))
      o.set[JsonNode](freq, obj(season -> st.get(freq).get(season)))
      out.add(o)
    }
    out
  }

  /** One experiment's assets, deterministic in (seed, name). */
  def experiment(seed: Long, name: String, legacy: Boolean = false,
                 payloadTag: String = ""): Seq[Asset] = {
    // the tag changes payloads (their embedded key), never the keys
    val r = rng(seed, name)
    val nets = rotate(NetworkPool, r).take(2)
    val vars = rotate(ObsvarPool, r).take(2)
    val pe = Map("project" -> Project, "experiment" -> name)
    val out = Seq.newBuilder[Asset]
    def add(route: Route, args: Map[String, String], kwargs: Map[String, String] = Map.empty,
            size: Int = 40): Unit = {
      val all = pe ++ args
      val key = keyOf(route, all, kwargs) + payloadTag
      if (Route.blobRoutes.contains(route)) out += Asset(route, name, all, kwargs, null, png(key))
      else out += Asset(route, name, all, kwargs, doc(r, key, size), null)
    }
    def addJson(route: Route, args: Map[String, String], kwargs: Map[String, String],
                node: JsonNode): Unit =
      out += Asset(route, name, pe ++ args, kwargs, mapper.writeValueAsString(node), null)

    val version = if (legacy) LegacyVersion else ModernVersion
    addJson(Route.Config, Map.empty, Map.empty, obj(
      "_key" -> txt(keyOf(Route.Config, pe, Map.empty) + payloadTag),
      "exp_info" -> obj("exp_id" -> txt(name), "pyaerocom_version" -> txt(version))))
    Seq(Route.Menu, Route.Statistics, Route.Ranges, Route.Regions).foreach(add(_, Map.empty, size = 20))
    add(Route.ModelsStyle, Map.empty, Map("experiment" -> name), size = 10)
    val gsKey = keyOf(Route.GlobStats, pe + ("frequency" -> Frequency), Map.empty) + payloadTag
    addJson(Route.GlobStats, Map("frequency" -> Frequency), Map.empty, globStats(r, gsKey, nets, vars))
    for (n <- nets; v <- vars; loc <- 0 until Locations)
      add(Route.Timeseries, Map("location" -> f"st$loc%04d", "network" -> n, "obsvar" -> v, "layer" -> "Surface"))
    for (n <- nets; v <- vars; loc <- 0 until WeeklyLocations)
      add(Route.TimeseriesWeekly, Map("location" -> f"st$loc%04d", "network" -> n, "obsvar" -> v, "layer" -> "Surface"))
    for (n <- nets; v <- vars; m <- Models) {
      val args = Map("network" -> n, "obsvar" -> v, "layer" -> "Surface", "model" -> m, "modvar" -> v)
      val time = Map("time" -> "2019")
      val mk = keyOf(Route.MapRoute, pe ++ args, time) + payloadTag
      addJson(Route.MapRoute, args, time, mapDoc(r, mk))
      add(Route.Scatter, args, time)
    }
    for (loc <- 0 until ProfileLocations)
      add(Route.Profiles, Map("location" -> f"st$loc%04d", "network" -> nets.head, "obsvar" -> vars.head))
    // the pre-0.13.2 layout keys heatmap timeseries by network/obsvar/
    // layer only, so a legacy experiment holds one per network
    val hmRegions = if (legacy) Seq("ALL") else Regions
    for (reg <- hmRegions; n <- nets)
      add(Route.HeatmapTimeseries, Map.empty,
        Map("region" -> reg, "network" -> n, "obsvar" -> vars.head, "layer" -> "Surface"))
    for (reg <- Regions; n <- nets)
      add(Route.Forecast, Map("region" -> reg, "network" -> n, "obsvar" -> vars.head, "layer" -> "Surface"))
    for (reg <- Regions; n <- nets)
      add(Route.Fairmode, Map("region" -> reg, "network" -> n, "obsvar" -> vars.head,
        "layer" -> "Surface", "model" -> Models.head, "time" -> "2019"))
    for (m <- Models.take(2)) {
      val ck = keyOf(Route.Contour, pe ++ Map("obsvar" -> vars.head, "model" -> m), Map.empty) + payloadTag
      val c = obj("_key" -> txt(ck))
      Timesteps.foreach(t => c.set[JsonNode](t, obj("type" -> txt("FeatureCollection"), "features" -> ints(r, 12))))
      addJson(Route.Contour, Map("obsvar" -> vars.head, "model" -> m), Map.empty, c)
    }
    for (t <- Timesteps)
      add(Route.ContourTimesplit, Map("obsvar" -> vars(1), "model" -> Models(2), "timestep" -> t), size = 12)
    for (m <- Models.take(2)) add(Route.GriddedMap, Map("obsvar" -> vars(1), "model" -> m), size = 20)
    for (i <- 0 until 2) add(Route.Report, Map("title" -> s"report$i"), size = 20)
    for (i <- 0 until 2) add(Route.ReportImage, Map("path" -> s"img/fig$i.png"))
    for (i <- 0 until 2) add(Route.MapOverlay, Map("source" -> Models(i), "variable" -> vars.head, "date" -> "20190101"))
    out.result()
  }

  /** Configs first: a file tree lays out an experiment by the data
    * version its config records. */
  def configsFirst(as: Seq[Asset]): Seq[Asset] = {
    val (c, rest) = as.partition(_.route == Route.Config); c ++ rest
  }

  private def rotate[T](s: Seq[T], r: SplittableRandom): Seq[T] = {
    val k = r.nextInt(s.size); s.drop(k) ++ s.take(k)
  }

  /** Project-level assets: the experiments list and the project's
    * models-style fallback. */
  def projectAssets(seed: Long, experiments: Seq[String]): Seq[Asset] = {
    val r = rng(seed, "project")
    val p = Map("project" -> Project)
    val exps = obj("_key" -> txt(keyOf(Route.Experiments, p, Map.empty)))
    experiments.foreach(e => exps.set[JsonNode](e, obj("public" -> mapper.getNodeFactory.booleanNode(true))))
    Seq(
      Asset(Route.Experiments, "", p, Map.empty, mapper.writeValueAsString(exps), null),
      Asset(Route.ModelsStyle, "", p, Map.empty, doc(r, keyOf(Route.ModelsStyle, p, Map.empty), 10), null))
  }

  /** The filtered views of one experiment: regional statistics and
    * heatmap cuts of its glob_stats, season cuts of one map document,
    * and timestep cuts of one contour document. Three source files per
    * experiment, so the views of 20 experiments fit the store's file
    * LRU (64) and sub-key LRU (512). */
  def filteredReads(exp: Seq[Asset]): Seq[FilteredRead] = {
    val gs = exp.find(_.route == Route.GlobStats).get
    val gsNode = mapper.readTree(gs.json).asInstanceOf[ObjectNode]
    val vars = fieldNames(gsNode).filter(_ != "_key")
    val nets = fieldNames(gsNode.get(vars.head))
    val regional = for (v <- vars; n <- nets.take(1); l <- Layers) yield
      FilteredRead("regional_stats", gs, Map("variable" -> v, "network" -> n, "layer" -> l),
        gsNode.get(v).get(n).get(l))
    val heat = for (reg <- Regions.take(2); t <- HeatTimes) yield
      FilteredRead("heatmap", gs, Map("region" -> reg, "time" -> t), expectHeatmap(gsNode, reg, t))
    val map = exp.find(_.route == Route.MapRoute).get
    val mapNode = mapper.readTree(map.json).asInstanceOf[ArrayNode]
    val maps = for (se <- Seq("DJF", "all")) yield
      FilteredRead("map", map, Map("frequency" -> "monthly", "season" -> se), expectMap(mapNode, "monthly", se))
    val contour = exp.find(_.route == Route.Contour).get
    val cNode = mapper.readTree(contour.json)
    val cont = Timesteps.take(3).map(t =>
      FilteredRead("contour", contour, Map("timestep" -> t), cNode.get(t)))
    regional ++ heat ++ maps ++ cont
  }

  private def fieldNames(n: JsonNode): Seq[String] = {
    val b = Seq.newBuilder[String]; n.fieldNames().forEachRemaining(b += _); b.result()
  }

  /** What `query(project, experiment)`, `listTimeseries` and
    * `listMap` return for one experiment. The file-tree backend
    * reports glob_stats as HEATMAP and prunes the listing to the
    * experiment's directory, which leaves out the separate reports
    * tree; the table backend reports glob_stats as HEATMAP too but
    * keeps report rows, which carry the experiment key. */
  def catalogExpect(exp: Seq[Asset], jsonBackend: Boolean): CatalogExpect = {
    val listed = exp.filter(a => !jsonBackend ||
      (a.route != Route.Report && a.route != Route.ReportImage))
    val counts = listed.groupBy(a => if (a.route == Route.GlobStats) Route.Heatmap else a.route)
      .view.mapValues(_.size).toMap
    CatalogExpect(counts, exp.count(_.route == Route.Timeseries), exp.count(_.route == Route.MapRoute))
  }
}
