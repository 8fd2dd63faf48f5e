package graft.store

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.Pep440Version
import graft.core.AssetValue

/** The layout version comes from the experiment's config, which is
  * written under the filename-encoded experiment directory: names
  * holding `_`, `/` or `%` must find it there, not fall back to 0.0.1
  * (whose heatmap-timeseries template drops the per-key components and
  * collapses every such asset into one file). */
class JsonFileStoreVersionSpec extends AnyFunSuite {

  test("json_files: the config version resolves for filename-encoded experiment names") {
    val db = new JsonFileStore(graft.core.TempDirs.create("graft-json-version").toString)
    try {
      val (p, e) = ("pro_ject", "exp_1/a%b")
      db.putConfig("""{"exp_info": {"pyaerocom_version": "0.30.0"}}""", p, e)
      assert(db.getVersion(p, e) == Pep440Version.parse("0.30.0"))

      db.putHeatmapTimeseries("""{"r": "EU"}""", p, e, "EU", "net", "od550", "Column")
      db.putHeatmapTimeseries("""{"r": "ASIA"}""", p, e, "ASIA", "net", "od550", "Column")
      assert(db.getHeatmapTimeseries(p, e, "EU", "net", "od550", "Column") ==
        AssetValue.Json("""{"r": "EU"}"""))
      assert(db.getHeatmapTimeseries(p, e, "ASIA", "net", "od550", "Column") ==
        AssetValue.Json("""{"r": "ASIA"}"""))
    } finally db.close()
  }
}
