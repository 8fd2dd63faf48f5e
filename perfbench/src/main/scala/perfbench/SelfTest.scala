package perfbench

import java.nio.file.{Files, Path}

import graft.core.{AssetValue, Route}
import graft.store.JsonFileStore

/** Checks of the benchmark's own parts: the percentile helper, the
  * generator's determinism, and the oracle's ability to catch a wrong
  * payload and a missing catalog entry. Run with
  * `python3 perfbench/run.py --self-test`. */
object SelfTest {
  def run(workDir: Path): Boolean = {
    val checks = Seq[(String, () => Boolean)](
      "percentile refuses p95 with 9 samples beyond it" -> (() => {
        val xs = (1 to 199).map(_.toDouble).toArray // p95 rank 190: 9 beyond
        scala.util.Try(Stats.percentile(xs, 95)).isFailure
      }),
      "percentile gives p95 with 10 samples beyond it" -> (() => {
        val xs = (1 to 200).map(_.toDouble).toArray
        Stats.percentile(xs, 95) == 190.0
      }),
      "median of one sample" -> (() => Stats.median(Array(3.5)) == 3.5),
      "covered merges overlapping intervals" -> (() =>
        Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L),
      "generator is deterministic per seed" -> (() => {
        def gen(seed: Long) = Corpus.experiment(seed, "exp02") ++ Corpus.projectAssets(seed, Seq("exp02"))
        def same(a: Seq[Asset], b: Seq[Asset]) = a.size == b.size && a.zip(b).forall { case (x, y) =>
          x.route == y.route && x.args == y.args && x.kwargs == y.kwargs && x.json == y.json &&
            java.util.Arrays.equals(x.blob, y.blob)
        }
        same(gen(7), gen(7)) && !same(gen(7), gen(8)) &&
          Corpus.experiment(7, "exp02").size == Corpus.AssetsPerExperiment
      }),
      "oracle flags a corrupted payload" -> (() => {
        val a = Corpus.experiment(3, "exp02").find(_.route == Route.Timeseries).get
        val blob = Corpus.experiment(3, "exp02").find(_.isBlob).get
        a.matches(AssetValue.Json(a.json)) && !a.matches(AssetValue.Json(a.json.replace("\"data\"", "\"dat\""))) &&
          !blob.matches(AssetValue.Blob(blob.blob.dropRight(1)))
      }),
      "oracle flags a corrupted sub-document" -> (() => {
        val f = Corpus.filteredReads(Corpus.experiment(3, "exp02")).head
        val good = Corpus.mapper.writeValueAsString(f.expected)
        f.matches(AssetValue.Json(good)) && !f.matches(AssetValue.Json(good.replaceFirst("[0-9]", "x0")))
      }),
      "oracle flags a missing query entry" -> (() => {
        val dir = workDir.resolve("selftest-store")
        val exp = Corpus.experiment(5, "exp03")
        val store = new JsonFileStore(dir.toString)
        exp.filter(_.route == Route.Config).foreach(_.put(store))
        exp.filter(_.route != Route.Config).foreach(_.put(store))
        val want = Corpus.catalogExpect(exp, jsonBackend = true)
        val q = () => store.query(kwargs = Map("project" -> Corpus.Project, "experiment" -> "exp03"))
        val before = want.matches(q())
        val victim = store.getMenu(Corpus.Project, "exp03", graft.core.AccessType.FilePath) match {
          case AssetValue.Path(p) => p
          case other => sys.error(s"unexpected $other")
        }
        store.rmByUri(exp.find(_.route == Route.Menu).get.uri)
        val after = want.matches(q())
        before && !Files.exists(Path.of(victim)) && !after
      }))
    val results = checks.map { case (name, body) =>
      val ok = scala.util.Try(body()).fold(e => { System.err.println(s"$name: $e"); false }, identity)
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      ok
    }
    println(s"${results.count(identity)}/${results.size} self-tests passed")
    results.forall(identity)
  }
}
