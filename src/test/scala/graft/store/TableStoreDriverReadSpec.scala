package graft.store

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.codec.UriCodec
import graft.core.{AccessType, AssetValue, LocalParquet, Route, TempDirs}
import graft.etl.CopyDb

/** TableStore point reads are served on the driver from the one
  * partition directory their key names: no Spark job runs, and the
  * winner is the row the Spark-planned newest-row resolution picks.
  * [[sparkWinner]] is that resolution — the window over `liveFrame` /
  * `liveFrameAsOf` plus the ranking ORDER BY point reads used to run —
  * kept here as the oracle; it is never on the serving path. */
class TableStoreDriverReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Spark jobs submitted while `body` runs; the listener bus is
    * drained before and after so no straggler leaks into the count. */
  private def sparkJobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftdiag.BusDiag.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graftdiag.BusDiag.waitUntilEmpty(spark.sparkContext)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** The Spark twin of a point read of `uri`: (payload, put_time) of
    * the winning live row, the payload rendered by [[show]]. */
  private def sparkWinner(db: TableStore, uri: String, asOf: Option[Long]): Option[(String, Long)] = {
    val (route, args, kw) = UriCodec.parse(uri)
    val table = TableStore.tableFor(route)
    asOf.fold(db.liveFrame(table))(db.liveFrameAsOf(table, _)).flatMap { df =>
      val keys = TableStore.tableKeys(table)
      val wc = TableStore.generationKeys(table)
      val provided = (args ++ (kw - "version")).view.filterKeys(keys.contains).toMap
      val surplus = keys.filterNot(provided.contains)
      val pred = provided.map { case (k, v) =>
        if (wc.contains(k)) col(k) === v || col(k).isNull else col(k) === v
      }.reduceOption(_ && _).getOrElse(lit(true))
      val providedWc = provided.keys.filter(wc.contains).toSeq.sorted
      val order = Seq(
        providedWc.map(k => when(col(k).isNull, 1).otherwise(0)).reduceOption(_ + _),
        surplus.map(k => when(col(k).isNull, 0).otherwise(1)).reduceOption(_ + _)
      ).flatten.map(_.asc) ++ Seq(col("put_time").desc, col("seq").desc)
      df.filter(pred).orderBy(order: _*).limit(1).collect().headOption.flatMap { r =>
        val payload =
          if (Route.blobRoutes.contains(route)) Option(r.getAs[Array[Byte]]("blob")).map(AssetValue.Blob(_))
          else Option(r.getAs[String]("json")).map(AssetValue.Json(_))
        payload.map(v => show(v) -> r.getAs[Long]("put_time"))
      }
    }
  }

  private def show(v: AssetValue): String = v match {
    case AssetValue.Json(s) => s
    case AssetValue.Blob(b) => b.mkString("blob:", ",", "")
    case other => other.toString
  }

  /** The driver-local current read of `uri`: payload and mtime. */
  private def driverNow(db: TableStore, uri: String): Option[(String, Long)] =
    try {
      val payload = show(db.getByUri(uri))
      db.getByUri(uri, AccessType.Mtime) match {
        case AssetValue.Time(t) => Some(payload -> t.toEpochMilli)
        case other => fail(s"mtime of $uri read back as $other")
      }
    } catch { case _: FileNotFoundException => None }

  private def fixtureStore(): TableStore = {
    val jsonDir = TempDirs.create("graft-driver-read-src")
    Fixture.build(jsonDir)
    val src = new JsonFileStore(jsonDir.toString)
    val dst = new TableStore(spark, TempDirs.create("graft-driver-read").toString)
    CopyDb.copyDbContents(src, dst)
    src.close()
    dst
  }

  test("flushed get, getBlob, filtered get and getByUriAsOf run zero Spark jobs") {
    val db = fixtureStore()
    try {
      val marker = db.snapshotSeq()
      val menuUri = db.listAll().find(_.startsWith("/v0/menu/project/experiment")).get
      val menu = db.getMenu("project", "experiment")
      val (reads, jobs) = sparkJobsDuring {
        Seq(
          db.getMenu("project", "experiment"),
          db.getMenu("project", "experiment", AccessType.Mtime),
          AssetValue.Blob(db.getReportImage("project", "experiment", "img/pixel.png")),
          db.getMap("project", "experiment", "network", "obsvar", "layer", "model", "modvar", "time",
            frequency = Some("frequency"), season = Some("season")),
          db.getHeatmap("project", "experiment", "frequency", "region", "time"),
          db.getByUriAsOf(menuUri, marker).get)
      }
      assert(jobs == 0, s"point reads ran $jobs Spark jobs")
      assert(reads.head == menu && reads.last == menu)
      assert(reads(1).isInstanceOf[AssetValue.Time])
      assert(show(reads(2)) == show(AssetValue.Blob(Fixture.PixelPng)))
      assert(show(reads(3)).contains("station_name") && !show(reads(3)).contains("excluded_season"))
      assert(show(reads(4)).contains("\"region\"") && !show(reads(4)).contains("otherregion"))
      // the counter does see jobs: the catalog query stays Spark-planned
      assert(sparkJobsDuring(db.query())._2 > 0)
    } finally db.close()
  }

  test("driver-local reads agree with the Spark twin across a seeded history") {
    val db = new TableStore(spark, TempDirs.create("graft-driver-read-diff").toString)
    try {
      val rnd = new scala.util.Random(20261018L)
      var n = 0
      def payload(tag: String): String = { n += 1; s"""{"v": $n, "at": "$tag"}""" }
      val exps = Seq("e1", "e2")
      def mapUri(e: String, net: String, time: Option[String]) =
        s"/v0/map/p/$e/$net/od550/Column/m/mv" + time.fold("")(t => s"?time=$t")
      def hmUri(e: String, region: Option[String]) =
        s"/v0/hm_ts/p/$e" + region.fold("")(r => s"?region=$r&network=n&obsvar=o&layer=l")
      def imgUri(e: String) = s"/v0/report-image/p/$e/img.png"
      // `None` keys are the legacy generations: their rows key by NULL
      val writable = for {
        e <- exps
        uri <- Seq(mapUri(e, "n1", Some("t1")), mapUri(e, "n1", Some("t2")),
          mapUri(e, "n2", Some("t1")), mapUri(e, "n1", None), mapUri(e, "n2", None),
          hmUri(e, Some("r1")), hmUri(e, Some("r2")), hmUri(e, None), s"/v0/menu/p/$e")
      } yield uri
      // plus keys only a NULL-keyed row can answer, and keys nothing answers
      val probes = writable ++ exps.flatMap(e => Seq(mapUri(e, "n1", Some("t9")),
        mapUri(e, "n3", Some("t1")), hmUri(e, Some("r9")), imgUri(e)))

      writable.foreach(u => db.putByUri(u, payload("seed")))
      val markers = ArrayBuffer.empty[Long]
      for (round <- 1 to 4) {
        // one overwrite per round: the partition holds a file per round
        db.putByUri("/v0/menu/p/e1", payload(s"menu$round"))
        for (_ <- 0 until 25) {
          val uri = writable(rnd.nextInt(writable.size))
          rnd.nextInt(10) match {
            case 0 | 1 => db.rmByUri(uri)
            // back-to-back overwrites: same millisecond, ordered by seq
            case 2 => (0 until 4).foreach(_ => db.putByUri(uri, payload(s"burst$round")))
            case _ => db.putByUri(uri, payload(s"r$round"))
          }
        }
        // tombstones on NULL-keyed rows
        if (round == 2) db.rmByUri(hmUri("e1", None))
        if (round == 3) db.rmByUri(mapUri("e2", "n1", None))
        db.putBlobByUri(imgUri(exps(rnd.nextInt(exps.size))), Array[Byte](round.toByte, n.toByte))
        db.flushAll()
        markers += db.snapshotSeq()
      }

      // the history has what the comparison is meant to exercise
      val menuDir = Paths.get(db.basedir, "menu", "project=p", "experiment=e1")
      assert(LocalParquet.dataFiles(menuDir).size >= 4, "overwrites did not spread over files")
      val tables = Seq("map", "heatmap_ts", "menu", "report_image")
      val log = tables.map(t => t -> spark.read.parquet(s"${db.basedir}/$t")).toMap
      assert(tables.exists { t =>
        val keys = TableStore.tableKeys(t).map(col)
        log(t).groupBy((keys :+ col("put_time")): _*).count().filter(col("count") > 1).count() > 0
      }, "no same-millisecond overwrite of one key in the history")

      def agree(label: String, at: Seq[Long]): Unit = probes.foreach { uri =>
        at.foreach { m =>
          assert(db.getByUriAsOf(uri, m).map(show) == sparkWinner(db, uri, Some(m)).map(_._1),
            s"$label: $uri as of $m")
        }
        assert(driverNow(db, uri) == sparkWinner(db, uri, None), s"$label: $uri now")
      }
      // markers inside a flushed batch: a file holds rows on both sides
      val seqs = log.values.map(_.select("seq")).reduce(_ union _).distinct().collect()
        .map(_.getLong(0)).sorted
      val inBatch = Seq(0.2, 0.4, 0.6, 0.8).map(q => seqs((seqs.length * q).toInt))
      val pinned = (markers.toSeq ++ inBatch).sorted
      agree("append log", pinned)
      assert(probes.exists(u => driverNow(db, u).isEmpty) && probes.exists(u => driverNow(db, u).isDefined))

      tables.foreach(db.compactRetain(_, markers(1)))
      agree("after compactRetain", pinned.filter(_ >= markers(1)))
      tables.foreach(db.compact)
      agree("after compact", Seq(markers.last))
    } finally db.close()
  }

  test("partition values Spark escapes round-trip, project-only experiments table included") {
    val db = new TableStore(spark, TempDirs.create("graft-driver-read-escape").toString)
    try {
      val special = "a/b=c%d:e f"
      // a non-ASCII value needs a file-name charset that encodes it (a
      // UTF-8 locale): under an ASCII one even Spark's write refuses it
      val fsNames = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding")).newEncoder()
      val names = Seq(special) ++ Some(special + "-caf\u00e9").filter(fsNames.canEncode(_))
      for (p <- names; e <- names) {
        db.putMenu(s"""{"menu": "$p|$e"}""", p, e)
        db.putTimeseries(s"""{"ts": "$p|$e"}""", p, e, "loc/1", "net=2", "od:550", "Col umn")
      }
      names.foreach(p => db.putExperiments(s"""{"exps": "$p"}""", p))
      val marker = db.snapshotSeq()
      val esc = ExternalCatalogUtils.escapePathName(special)
      assert(Files.isDirectory(Paths.get(db.basedir, "menu", s"project=$esc", s"experiment=$esc")))
      assert(Files.isDirectory(Paths.get(db.basedir, "experiments", s"project=$esc")))

      def check(uri: String, expected: String): Unit = {
        val now = driverNow(db, uri)
        assert(now.map(_._1).contains(expected), s"$uri did not round-trip")
        assert(now == sparkWinner(db, uri, None), s"$uri now")
        assert(db.getByUriAsOf(uri, marker).map(show) == sparkWinner(db, uri, Some(marker)).map(_._1),
          s"$uri as of $marker")
      }
      for (p <- names; e <- names) {
        check(UriCodec.build(Route.Menu, Map("project" -> p, "experiment" -> e)),
          s"""{"menu": "$p|$e"}""")
        check(UriCodec.build(Route.Timeseries, Map("project" -> p, "experiment" -> e,
          "location" -> "loc/1", "network" -> "net=2", "obsvar" -> "od:550", "layer" -> "Col umn")),
          s"""{"ts": "$p|$e"}""")
      }
      names.foreach(p => check(UriCodec.build(Route.Experiments, Map("project" -> p)), s"""{"exps": "$p"}"""))
      assert(db.getMenu(special, special) == AssetValue.Json(s"""{"menu": "$special|$special"}"""))
      assert(db.getExperiments(special) == AssetValue.Json(s"""{"exps": "$special"}"""))
      // a name never written, encodable or not, reads back as missing
      assert(db.getMenu("never-caf\u00e9", special, default = Some(AssetValue.Json("{}"))) ==
        AssetValue.Json("{}"))
    } finally db.close()
  }
}
