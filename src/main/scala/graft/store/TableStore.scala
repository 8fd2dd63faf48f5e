package graft.store

import java.io.FileNotFoundException
import java.nio.file.{Files, InvalidPathException, Path, Paths}
import java.time.Instant

import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.codec.UriCodec
import graft.filters.JsonUtil
import graft.lock.{AdvisoryLock, Locking}

/** Spark-managed table backend — the scalable analogue of the
  * reference's sqlitedb (`/root/reference/src/aerovaldb/sqlitedb/
  * sqlitedb.py`): one parquet table per asset type, one row per asset,
  * key columns + `ctime`/`mtime` + a single opaque `json` (or `blob`)
  * payload column.
  *
  * Physical design for scale:
  *  - Writes are an append log; readers resolve the newest row per key
  *    (the parquet equivalent of sqlite's `REPLACE INTO` + UNIQUE key,
  *    `sqlitedb.py:341-369,500-531`). Point puts buffer in memory and
  *    flush as batch appends — one parquet file per flushed batch, not
  *    per asset, so a bulk copy produces a handful of files per table.
  *  - Point gets run no Spark job: they read the one partition
  *    directory the key names with parquet-mr on the driver, key
  *    equalities pushed down, and resolve the winner in Scala
  *    ([[lookupRow]]). Catalog queries, compaction and experiment
  *    deletes stay Spark-planned.
  *  - Tables sharing storage in the reference share here too:
  *    GLOB_STATS / HEATMAP / REGIONAL_STATS → one `glob_stats` table
  *    (`sqlitedb.py:184-249`).
  *  - Layout generations are unified into one superset column set per
  *    table; rows from older generations leave surplus keys NULL, and
  *    gets prefer the row with fewest non-null surplus keys — the
  *    reference's row-disambiguation loop (`sqlitedb.py:441-449`)
  *    expressed as a deterministic ORDER BY.
  */
final class TableStore(spark: SparkSession, basedirRaw: String) extends AssetStore {
  import TableStore._

  /** `":memory:"` opens an ephemeral store (the sqlite in-memory
    * analogue, `plugins.py:74-77`): a fresh temp directory per
    * instance, deleted on close — contents are not persistent and two
    * `:memory:` opens never share data, like two sqlite `:memory:`
    * connections. */
  private val ephemeral = basedirRaw == ":memory:"
  val basedir: String =
    if (ephemeral) graft.core.TempDirs.create("graft-memdb").toAbsolutePath.toString
    else Paths.get(basedirRaw).toAbsolutePath.toString
  Files.createDirectories(Paths.get(basedir))
  recoverInterruptedRewrites()

  def name: String = "table_store"

  // in-memory append buffers, flushed per table on read/close
  private val pending = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Row]]

  private def schemaFor(table: String): StructType = {
    val keys = tableKeys(table)
    StructType(
      keys.map(k => StructField(k, StringType, nullable = true)) ++ Seq(
        StructField("json", StringType, nullable = true),
        StructField("blob", BinaryType, nullable = true),
        StructField("put_time", LongType, nullable = false),
        StructField("seq", LongType, nullable = false),
        StructField("op", StringType, nullable = false)))
  }

  private def tablePath(table: String) = s"$basedir/$table"

  // per-table write monitors: two flushes of the SAME table must not
  // append to one directory concurrently (shared _temporary dir), but
  // different tables are independent paths and may write in parallel
  private val flushLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def flush(table: String): Unit =
    flushLocks.computeIfAbsent(table, _ => new Object).synchronized {
      // snapshot-and-clear under the store lock; the Spark write runs
      // outside it so concurrent flushes of other tables proceed
      val snapshot = synchronized {
        pending.get(table).filter(_.nonEmpty).map { rows =>
          val r = rows.toSeq; rows.clear(); r
        }
      }
      snapshot.foreach { rows =>
        try {
          val df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schemaFor(table))
          // physical layout partitioned on the leading key columns: point
          // gets and rmExperimentData prune to one directory subtree at
          // scale (`NULL` keys land in the default partition and read back
          // as NULL)
          val parts = partitionCols(table)
          val w = df.write.mode(SaveMode.Append)
          (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(tablePath(table))
        } catch {
          case e: Throwable =>
            // failed write must not lose the buffered rows: put the
            // snapshot back at the FRONT (it predates anything appended
            // meanwhile) so the next flush retries it
            synchronized {
              pending.getOrElseUpdate(
                table, scala.collection.mutable.ArrayBuffer.empty)
                .prependAll(rows)
            }
            throw e
        }
      }
    }

  /** Partition columns per table: (project, experiment) where both
    * exist, (project) otherwise. */
  private def partitionCols(table: String): Seq[String] =
    tableKeys(table).filter(k => k == "project" || k == "experiment")

  private[store] def readTable(table: String): Option[DataFrame] = {
    flush(table)
    val p = tablePath(table)
    if (!Files.exists(Paths.get(p))) None
    else Some(spark.read.schema(schemaFor(table)).parquet(p))
  }

  /** Newest row per key, honoring rm tombstones. With `asOf` set,
    * rows written at or after the snapshot marker (seq ≥ asOf) are
    * invisible — INCLUDING tombstones, so an asset deleted after the
    * snapshot still reads back at it. The append log makes this free:
    * nothing is ever rewritten, so history survives until a
    * `compact()` collapses it. */
  private def liveRows(table: String, asOf: Option[Long] = None): Option[DataFrame] =
    readTable(table).map { df0 =>
      val df = asOf.fold(df0)(s => df0.filter(col("seq") < s))
      val keys = tableKeys(table).map(col)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys: _*).orderBy(col("put_time").desc, col("seq").desc)
      df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && col("op") === "put")
        .drop("_rn")
        .withColumn("mtime", col("put_time"))
    }

  /** Snapshot marker for time-travel reads: every row written so far
    * carries seq < the returned value, so
    * `queryAsOf(marker)`/`getByUriAsOf(uri, marker)` reproduce the
    * store EXACTLY as it is now — puts, overwrites, and deletes that
    * land later are invisible at the marker. Pin one before a
    * training run and the run's inputs stay reproducible for as long
    * as the log is kept (`compact()` collapses history; compact only
    * tables whose markers you no longer need). */
  def snapshotSeq(): Long = { flushAll(); TableStore.seqCounter.get() }

  /** [[AssetStore.query]] as of a snapshot marker. */
  def queryAsOf(asOf: Long, assetTypes: Seq[Route] = Route.all,
                kwargs: Map[String, String] = Map.empty): Seq[QueryEntry] =
    queryImpl(assetTypes, kwargs, Some(asOf))

  def listAllAsOf(asOf: Long): Seq[String] = queryAsOf(asOf).map(_.uri)

  /** Time-travel point read: the asset as it existed at the snapshot —
    * `Json` for JSON routes, `Blob` for blob routes; None if it did
    * not exist yet or was already deleted. */
  def getByUriAsOf(uri: String, asOf: Long): Option[AssetValue] = {
    val (route, args, kw) = UriCodec.parse(uri)
    val blob = Route.blobRoutes.contains(route)
    lookupRow(tableFor(route), args ++ (kw - "version"), Some(if (blob) "blob" else "json"),
      Some(asOf)).flatMap { r =>
      if (blob) Option(r.blob).map(AssetValue.Blob.apply)
      else Option(r.json).map(AssetValue.Json.apply)
    }
  }

  private def appendRow(table: String, keyVals: Map[String, String],
                        json: Option[String], blob: Option[Array[Byte]],
                        op: String): Unit = synchronized {
    val keys = tableKeys(table)
    val row = Row.fromSeq(
      keys.map(k => keyVals.get(k).orNull) ++
        Seq(json.orNull, blob.orNull, System.currentTimeMillis(),
          TableStore.seqCounter.getAndIncrement(), op))
    pending.getOrElseUpdate(table, scala.collection.mutable.ArrayBuffer.empty) += row
  }

  /** Key-equality lookup with generation-aware NULL handling: a NULL
    * key column matches any requested value (rows written by an older
    * layout generation lack the newer key components — the analogue of
    * sqlite's per-generation tables, `sqlitedb.py:184-249`), and among
    * matches the row with the most exactly-matching keys and the
    * fewest non-null surplus keys wins (`sqlitedb.py:441-449`).
    *
    * Served DRIVER-LOCALLY, with no Spark job (the sqlite backend's one
    * indexed SELECT): [[newestRows]] reads the one partition directory
    * the key names, and the winner is ranked here in Scala: fewest
    * generation keys matched by a NULL, then fewest non-null surplus
    * keys, then the newest `put_time` and `seq`. `payload` names the
    * column the caller reads (`json` or `blob`), if any. */
  private def lookupRow(table: String, keyVals: Map[String, String], payload: Option[String],
                        asOf: Option[Long] = None): Option[LogRow] = {
    flush(table)
    val keys = tableKeys(table)
    val provided = keyVals.view.filterKeys(keys.contains).toMap
    val wc = generationKeys(table)
    val providedWc = keys.indices.filter(i => wc.contains(keys(i)) && provided.contains(keys(i)))
    val surplus = keys.indices.filterNot(i => provided.contains(keys(i)))
    newestRows(table, provided, payload, asOf).filterNot(_.rm).minByOption(r =>
      (providedWc.count(r.key(_) == null), surplus.count(r.key(_) != null), -r.putTime, -r.seq))
  }

  /** [[liveRows]] before its `rm` filter, restricted to the rows whose
    * keys match `provided` (a NULL generation key matches any value):
    * with `asOf`, only rows with `seq < asOf`; then the newest row per
    * full key, `rm` rows included. Read with parquet-mr from the
    * partition directories `provided` names, the key equalities pushed
    * down so row groups that cannot match are skipped by their
    * statistics and dictionaries; the rest are read a column at a
    * time, the payload decoded only at the matching rows. */
  private def newestRows(table: String, provided: Map[String, String], payload: Option[String],
                         asOf: Option[Long]): Iterable[LogRow] = {
    val keys = tableKeys(table).toIndexedSeq
    val wc = generationKeys(table)
    val parts = partitionCols(table)
    // (column index, value, NULL matches) per provided key stored in the files
    val matchers = provided.toSeq.filterNot(kv => parts.contains(kv._1)).map { case (k, v) =>
      (keys.indexOf(k), Binary.fromString(v), wc.contains(k))
    }
    val filter = (matchers.map { case (c, v, nullMatches) =>
      val col = FilterApi.binaryColumn(keys(c))
      val eq: FilterPredicate = FilterApi.eq[Binary, Operators.BinaryColumn](col, v)
      if (nullMatches) FilterApi.or(eq, FilterApi.eq[Binary, Operators.BinaryColumn](col, null)) else eq
    } ++ asOf.map(s => FilterApi.lt[java.lang.Long, Operators.LongColumn](
      FilterApi.longColumn("seq"), s))).reduceOption(FilterApi.and)
      .fold(FilterCompat.NOOP)(FilterCompat.get)
    val columns = (keys ++ Seq("put_time", "seq", "op") ++ payload).toSet
    // NULLs compare equal, as in the window's partitioning
    val newest = scala.collection.mutable.HashMap.empty[Seq[String], LogRow]
    for ((dir, partVals) <- partitionDirs(table, provided); file <- LocalParquet.dataFiles(dir))
      LocalParquet.foreachRowGroup(file, columns, filter) { rg =>
        val cols = keys.map(k => if (partVals.contains(k)) null else rg.binaries(k))
        val seqs = rg.longs("seq")
        val hit = scala.collection.immutable.BitSet((0 until rg.rows).filter { i =>
          asOf.forall(seqs(i) < _) && matchers.forall { case (c, v, nullMatches) =>
            val b = cols(c)(i)
            if (b == null) nullMatches else b == v
          }
        }: _*)
        if (hit.nonEmpty) {
          val times = rg.longs("put_time", hit)
          val ops = rg.binaries("op", hit)
          val payloads = payload.map(rg.binaries(_, hit))
          hit.foreach { i =>
            val key = keys.indices.map { c =>
              partVals.getOrElse(keys(c), Option(cols(c)(i)).map(_.toStringUsingUTF8).orNull)
            }
            val r = LogRow(key, times(i), seqs(i), ops(i) == RmOp, payloads.map(_(i)).orNull)
            if (newest.get(key).forall(r.newerThan)) newest(key) = r
          }
        }
      }
    newest.values
  }

  /** The partition directories a lookup reads, each with the partition
    * key values it holds: the one escaped `col=value` directory per
    * provided key, every directory at that level for a key not provided
    * (the default-partition directory holds NULL). */
  private def partitionDirs(table: String,
                            provided: Map[String, String]): Seq[(Path, Map[String, String])] =
    partitionCols(table).foldLeft(Seq(Paths.get(tablePath(table)) -> Map.empty[String, String])) {
      case (dirs, c) => dirs.flatMap { case (dir, vals) =>
        provided.get(c) match {
          case Some(v) =>
            val name = ExternalCatalogUtils.escapePathName(v)
            // a name the platform's file-name charset cannot encode
            // was never written under that name
            val sub = try Some(dir.resolve(s"$c=$name")) catch { case _: InvalidPathException => None }
            sub.filter(d => name != ExternalCatalogUtils.DEFAULT_PARTITION_NAME && Files.isDirectory(d))
              .map(_ -> (vals + (c -> v))).toSeq
          case None if Files.isDirectory(dir) =>
            import scala.jdk.CollectionConverters._
            scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toList).flatMap { sub =>
              val n = sub.getFileName.toString
              if (!n.startsWith(s"$c=") || !Files.isDirectory(sub)) None
              else {
                val raw = n.substring(c.length + 1)
                val v = if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
                        else ExternalCatalogUtils.unescapePathName(raw)
                Some(sub -> (vals + (c -> v)))
              }
            }
          case None => Nil
        }
      }
    }

  protected def _get(route: Route, routeArgs: Map[String, String],
                     kwargs: Map[String, String],
                     accessType: AccessType,
                     default: Option[AssetValue],
                     cache: Boolean): AssetValue = {
    if (accessType == AccessType.FilePath)
      throw new UnsupportedOperation(
        "Accessing FILE_PATH is not supported by TableStore.")
    val filterArgs = kwargs.filter { case (k, _) =>
      AssetStore.filterParams.getOrElse(route, Set.empty).contains(k) }
    val keyVals = routeArgs ++ (kwargs -- filterArgs.keys)
    val table = tableFor(route)

    val payload = accessType match {
      case AccessType.Blob => Some("blob")
      case AccessType.JsonStr | AccessType.Obj => Some("json")
      case _ => None
    }
    lookupRow(table, keyVals, payload) match {
      case None =>
        default.getOrElse(throw new FileNotFoundException(
          s"No asset for $route with key $keyVals"))
      case Some(r) =>
        accessType match {
          case AccessType.Uri =>
            AssetValue.Uri(UriCodec.build(route,
              routeArgs.view.filterKeys(route.argNames.contains).toMap,
              kwargs -- filterArgs.keys))
          case AccessType.Mtime => AssetValue.Time(Instant.ofEpochMilli(r.putTime))
          case AccessType.Ctime =>
            // creation time = oldest put for the key; approximated by
            // the surviving row's time unless history is retained
            AssetValue.Time(Instant.ofEpochMilli(r.putTime))
          case AccessType.Blob => AssetValue.Blob(r.blob)
          case AccessType.JsonStr | AccessType.Obj =>
            val json = r.json
            if (json == null) throw new FileNotFoundException(s"No JSON payload for $keyVals")
            if (filterArgs.isEmpty) {
              if (accessType == AccessType.JsonStr) AssetValue.Json(json)
              else AssetValue.Obj(JsonUtil.parse(json))
            } else {
              val filtered = AssetStore.applyFilter(route, JsonUtil.parse(json), filterArgs)
              convertNode(filtered, accessType)
            }
          case other => throw new UnsupportedOperation(s"access type $other")
        }
    }
  }

  protected def _put(json: String, route: Route, routeArgs: Map[String, String],
                     kwargs: Map[String, String]): Unit =
    appendRow(tableFor(route), routeArgs ++ kwargs, Some(json), None, "put")

  protected def _getBlob(route: Route, routeArgs: Map[String, String]): Array[Byte] =
    lookupRow(tableFor(route), routeArgs, Some("blob"))
      .map(_.blob)
      .getOrElse(throw new FileNotFoundException(s"No blob for $route $routeArgs"))

  protected def _putBlob(obj: Array[Byte], route: Route, routeArgs: Map[String, String]): Unit =
    appendRow(tableFor(route), routeArgs, None, Some(obj), "put")

  def query(assetTypes: Seq[Route] = Route.all,
            kwargs: Map[String, String] = Map.empty): Seq[QueryEntry] =
    queryImpl(assetTypes, kwargs, None)

  private def queryImpl(assetTypes: Seq[Route], kwargs: Map[String, String],
                        asOf: Option[Long]): Seq[QueryEntry] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val routeSet = assetTypes.toSet
    flushAll()
    // per-table scans are independent Spark jobs — run them
    // concurrently (Spark's scheduler interleaves them)
    val futures = tables.toSeq.map { case (table, route) => Future {
      queryTable(table, route, routeSet, kwargs, asOf)
    }}
    futures.flatMap(Await.result(_, Duration.Inf))
  }

  private def queryTable(table: String, route: Route, routeSet: Set[Route],
                         kwargs: Map[String, String],
                         asOf: Option[Long] = None): Seq[QueryEntry] = {
    Seq((table, route)).flatMap { case (table, route) =>
      if (!routeSet.contains(route)) Seq.empty
      else liveRows(table, asOf) match {
        case None => Seq.empty
        case Some(df) =>
          val keys = tableKeys(table)
          // non-key kwargs can never match a table without the column
          if (kwargs.keys.exists(k => !keys.contains(k))) Seq.empty
          else {
            val pred = kwargs.map { case (k, v) => col(k) === v }
              .reduceOption(_ && _).getOrElse(lit(true))
            df.filter(pred).collect().toSeq.map { r =>
              val meta = keys.flatMap(k => Option(r.getAs[String](k)).map(k -> _)).toMap
              val routeArgNames = route.argNames.toSet
              val args = meta.view.filterKeys(routeArgNames.contains).toMap
              val kw = meta.view.filterKeys(!routeArgNames.contains(_)).toMap
              QueryEntry(UriCodec.build(route, args, kw), route, meta)
            }
          }
      }
    }.toSeq
  }

  def rmByUri(uri: String): Unit = {
    val (route, args, kw) = UriCodec.parse(uri)
    appendRow(tableFor(route), args ++ (kw - "version"), None, None, "rm")
  }

  /** Experiment-wide delete as ONE distributed tombstone write per
    * table: the live keys of the experiment (a partition-pruned scan —
    * tables are partitioned on project/experiment) are written back as
    * `rm` rows. No `collect()`: at millions of assets per experiment
    * nothing funnels through the driver. */
  def rmExperimentData(project: String, experiment: String): Unit =
    tables.keys.foreach { table =>
      val keys = tableKeys(table)
      if (keys.contains("experiment"))
        liveRows(table).foreach { df =>
          // one batch seq for the whole tombstone set — keys are unique
          // within it, and a later same-millisecond put (higher seq)
          // still wins the newest-row resolution
          val batchSeq = TableStore.seqCounter.getAndIncrement()
          val tombstones = df
            .filter(col("project") === project && col("experiment") === experiment)
            .select(keys.map(k => col(k).cast("string").as(k)): _*)
            .withColumn("json", lit(null).cast("string"))
            .withColumn("blob", lit(null).cast("binary"))
            .withColumn("put_time", lit(System.currentTimeMillis()))
            .withColumn("seq", lit(batchSeq))
            .withColumn("op", lit("rm"))
          val parts = partitionCols(table)
          val w = tombstones.write.mode(SaveMode.Append)
          (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(tablePath(table))
        }
    }

  /** Bulk append pre-built rows (distributed ETL path): `rows` must
    * carry this table's key columns plus `json`/`blob`; bookkeeping
    * columns are added here. One partitioned write, no driver loop. */
  def bulkAppend(table: String, rows: DataFrame): Unit = {
    val keys = tableKeys(table)
    // one counter-issued seq per bulk batch (the rmExperimentData
    // pattern): successive batches in the same millisecond still
    // resolve newest-wins in APPEND ORDER — a per-row
    // monotonically_increasing_id would overlap across batches and
    // leave the winner partition-layout-dependent. Duplicate keys
    // WITHIN one batch have no defined "newest" (append semantics).
    val batchSeq = TableStore.seqCounter.getAndIncrement()
    val withMeta = rows
      .select((keys.map(k => col(k).cast("string").as(k)) ++ Seq(
        col("json").cast("string").as("json"),
        col("blob").cast("binary").as("blob"))): _*)
      .withColumn("put_time", lit(System.currentTimeMillis()))
      .withColumn("seq", lit(batchSeq))
      .withColumn("op", lit("put"))
    val parts = partitionCols(table)
    // same per-table monitor as flush(): two writers into one table
    // directory would collide in the shared _temporary dir
    flushLocks.computeIfAbsent(table, _ => new Object).synchronized {
      val w = withMeta.write.mode(SaveMode.Append)
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(tablePath(table))
    }
  }

  /** Rewrite a table directory from `rows`, preserving the partition
    * layout (TablePruningSpec pins pruning after compaction).
    *
    * Crash consistency (the [[graft.analytics.Similarity.compactIvfCorpus]]
    * discipline): the rewritten copy lands in `<table>_compacting`
    * first, then the swap is TWO RENAMES — live aside to
    * `<table>_old`, replacement into place — never a delete of live
    * data before the replacement exists. A crash between the renames
    * leaves the full table intact at `_old` (and the rewrite at
    * `_compacting`); [[recoverInterruptedRewrites]] restores it on the
    * next open. A failed second rename restores `_old` in-process.
    * Like the IVF compactor, the brief window where the live path does
    * not resolve makes rewrites a SINGLE-MAINTAINER step — the owner
    * runs compact/compactRetain between its own reads, never
    * concurrently with them. */
  private def rewriteTable(table: String, rows: DataFrame): Unit = {
    val dst = tablePath(table)
    DirSwap.recover(dst)
    val parts = partitionCols(table)
    val w = rows.write.mode(SaveMode.Overwrite)
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
      .parquet(DirSwap.compactingPath(dst).toString)
    DirSwap.swapInto(dst)
  }

  /** Heal a store whose last rewrite crashed mid-swap: a leftover
    * `<table>_old` whose live sibling is MISSING is the pre-rewrite
    * table caught between the two renames — restore it verbatim
    * (forfeiting the interrupted rewrite, which is re-runnable); an
    * `_old` whose sibling exists is completed-swap debris, and any
    * `_compacting` leftover is a stale rewrite output — both deleted.
    * Runs once per open, before any read can observe the gap. */
  private def recoverInterruptedRewrites(): Unit = {
    import scala.jdk.CollectionConverters._
    val entries = scala.util.Using.resource(Files.list(Paths.get(basedir))) {
      _.iterator().asScala.map(_.getFileName.toString).toSeq
    }
    (entries.filter(_.endsWith("_old")).map(_.stripSuffix("_old")) ++
      entries.filter(_.endsWith("_compacting")).map(_.stripSuffix("_compacting")))
      .distinct.foreach(t => DirSwap.recover(s"$basedir/$t"))
  }

  /** Compact a table: rewrite with only the newest row per live key.
    * Run periodically at scale to bound the append log. The rewrite
    * keeps the (project, experiment) directory partitioning — losing
    * it here would silently turn every post-compact point read from a
    * one-partition scan into a full-table scan (TablePruningSpec pins
    * pruning after compaction). */
  def compact(table: String): Unit =
    liveRows(table).foreach(df => rewriteTable(table, df.drop("mtime")))

  /** Retention-aware compaction — the VACUUM RETAIN between
    * [[compact]] (drop ALL history) and doing nothing (keep it all):
    * history OLDER than `retainSeq` collapses to one row per key (the
    * as-of-`retainSeq` winner; keys whose winner is a tombstone drop
    * entirely), while every row with seq ≥ `retainSeq` survives
    * verbatim — puts, overwrites, AND rm tombstones. Any snapshot
    * marker taken at or after `retainSeq` therefore reads back
    * EXACTLY as before the vacuum (the collapsed winner is by
    * construction the only sub-`retainSeq` row every such read could
    * resolve to), which is the retention contract a table format's
    * VACUUM gives its time travel; markers older than `retainSeq` are
    * explicitly forfeited. Bounded like compact: one partitioned
    * rewrite, newest-per-key via the same window as the readers. */
  def compactRetain(table: String, retainSeq: Long): Unit =
    readTable(table).foreach { df =>
      val keys = tableKeys(table).map(col)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys: _*).orderBy(col("put_time").desc, col("seq").desc)
      val collapsed = df.filter(col("seq") < retainSeq)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && col("op") === "put")
        .drop("_rn")
      rewriteTable(table, collapsed.unionByName(df.filter(col("seq") >= retainSeq)))
    }

  /** The store→analytics bridge: one table's LIVE rows (newest per
    * key, rm tombstones honored) as a DataFrame — key columns +
    * `json`/`blob` payload + bookkeeping. This is how a pipeline runs
    * corpus analytics (dedup, quality, CDC) directly over assets the
    * store serves, without exporting them first: the frame is the
    * same partition-pruned parquet scan the point API resolves
    * against, so a downstream groupBy/join composes with it like any
    * other source (av08 proves the composition end to end). */
  def liveFrame(table: String): Option[DataFrame] = liveRows(table)

  /** [[liveFrame]] as of a snapshot marker — the time-travel side of
    * the analytics bridge: rows written at or after the marker are
    * invisible, newest-per-key resolution and rm tombstones apply
    * among the rest. One pruned scan, same as every other reader;
    * st22 uses it to digest a pinned view across streaming vacuums
    * without per-URI point reads. */
  def liveFrameAsOf(table: String, asOf: Long): Option[DataFrame] =
    liveRows(table, Some(asOf))

  /** Distributed (uri, content md5) scan over every table's live rows:
    * URIs are rebuilt row-side from the key columns (the same rule as
    * [[query]]'s catalog scan) and payloads hash executor-side — the
    * canonical-JSON form for JSON routes, raw bytes for blobs. No
    * per-asset driver round-trips: the replica audit over a
    * million-asset store is |tables| parquet scans unioned, hashes
    * computed as a mapped column. */
  def contentHashFrame(): DataFrame = {
    import spark.implicits._
    flushAll()
    val frames = TableStore.tables.toSeq.sortBy(_._1).flatMap { case (table, route) =>
      liveRows(table).map { df =>
        val keys = tableKeys(table)
        val isBlob = Route.blobRoutes.contains(route)
        val routeArgNames = route.argNames.toSet
        df.select((keys.map(c => col(c).cast("string").as(c)) :+
            col("json") :+ col("blob")): _*)
          .map { r =>
            val meta = keys.zipWithIndex
              .flatMap { case (k, i) => Option(r.getString(i)).map(k -> _) }.toMap
            val args = meta.view.filterKeys(routeArgNames.contains).toMap
            val kw = meta.view.filterKeys(!routeArgNames.contains(_)).toMap
            val uri = UriCodec.build(route, args, kw)
            val digest =
              if (isBlob) JsonUtil.md5hex(r.getAs[Array[Byte]](keys.length + 1))
              else JsonUtil.canonicalMd5(r.getString(keys.length))
            (uri.takeWhile(_ != '?'), digest)
          }.toDF("uri", "content_md5")
      }
    }
    frames.reduceOption(_ unionByName _).getOrElse {
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("uri", StringType),
          StructField("content_md5", StringType))))
    }
  }

  def lock(): AdvisoryLock = Locking.forBasedir(basedir)

  /** Flush pending appends (call before handing the dir to another
    * reader). Tables flush CONCURRENTLY — each write is an independent
    * Spark job on its own directory, so serializing them would leave
    * the cluster idle per tiny batch (same reasoning as the concurrent
    * per-table catalog scans in [[query]]). */
  def flushAll(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val tables = synchronized(pending.filter(_._2.nonEmpty).keys.toSeq)
    Await.result(Future.sequence(tables.map(t => Future(flush(t)))), Duration.Inf)
  }

  override def close(): Unit = {
    flushAll()
    if (ephemeral) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(Paths.get(basedir))
      try walk.iterator().asScala.toSeq.reverseIterator.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}

object TableStore {
  /** Key columns that older layout generations leave NULL — a NULL in
    * these columns matches any requested value (the analogue of
    * sqlite's narrower per-generation tables). */
  def generationKeys(table: String): Set[String] = table match {
    case "map" | "scatter" => Set("time")
    case "heatmap_ts"      => Set("region", "network", "obsvar", "layer")
    case _                 => Set.empty
  }

  private val RmOp = Binary.fromString("rm")

  /** One row of a table's append log as a point lookup reads it: the
    * full key, the bookkeeping columns and the payload column the
    * lookup asked for (null when the row has none or none was asked). */
  private final case class LogRow(key: Seq[String], putTime: Long, seq: Long, rm: Boolean,
                                  payload: Binary) {
    def newerThan(o: LogRow): Boolean = putTime > o.putTime || (putTime == o.putTime && seq > o.seq)
    def json: String = if (payload == null) null else payload.toStringUsingUTF8
    def blob: Array[Byte] = if (payload == null) null else payload.getBytes
  }

  /** Monotonic tie-break for same-millisecond appends. */
  private[store] val seqCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** table → representative route for catalog URIs. glob_stats maps to
    * HEATMAP, preserving the jsondb quirk that reverse-parsed
    * glob_stats files surface as HEATMAP entries. */
  val tables: Map[String, Route] = Map(
    "glob_stats"        -> Route.Heatmap,
    "contour"           -> Route.Contour,
    "contour_timesplit" -> Route.ContourTimesplit,
    "timeseries"        -> Route.Timeseries,
    "timeseries_weekly" -> Route.TimeseriesWeekly,
    "experiments"       -> Route.Experiments,
    "config"            -> Route.Config,
    "menu"              -> Route.Menu,
    "statistics"        -> Route.Statistics,
    "ranges"            -> Route.Ranges,
    "regions"           -> Route.Regions,
    "models_style"      -> Route.ModelsStyle,
    "map"               -> Route.MapRoute,
    "scatter"           -> Route.Scatter,
    "profiles"          -> Route.Profiles,
    "heatmap_ts"        -> Route.HeatmapTimeseries,
    "forecast"          -> Route.Forecast,
    "fairmode"          -> Route.Fairmode,
    "gridded_map"       -> Route.GriddedMap,
    "report"            -> Route.Report,
    "report_image"      -> Route.ReportImage,
    "map_overlay"       -> Route.MapOverlay,
  )

  private val tableByRoute: Map[Route, String] =
    tables.map(_.swap) ++ Seq(Route.GlobStats, Route.RegionalStats).map(_ -> "glob_stats")

  def tableFor(route: Route): String = tableByRoute(route)

  /** Superset key columns per table (all layout generations). */
  def tableKeys(table: String): Seq[String] = table match {
    case "glob_stats"        => Seq("project", "experiment", "frequency")
    case "contour"           => Seq("project", "experiment", "obsvar", "model")
    case "contour_timesplit" => Seq("project", "experiment", "obsvar", "model", "timestep")
    case "timeseries" | "timeseries_weekly" =>
      Seq("project", "experiment", "location", "network", "obsvar", "layer")
    case "experiments"       => Seq("project")
    case "config" | "menu" | "statistics" | "ranges" | "regions" =>
      Seq("project", "experiment")
    case "models_style"      => Seq("project", "experiment")
    case "map" | "scatter"   =>
      Seq("project", "experiment", "network", "obsvar", "layer", "model", "modvar", "time")
    case "profiles"          => Seq("project", "experiment", "location", "network", "obsvar")
    case "heatmap_ts" | "forecast" =>
      Seq("project", "experiment", "region", "network", "obsvar", "layer")
    case "fairmode"          =>
      Seq("project", "experiment", "region", "network", "obsvar", "layer", "model", "time")
    case "gridded_map"       => Seq("project", "experiment", "obsvar", "model")
    case "report"            => Seq("project", "experiment", "title")
    case "report_image"      => Seq("project", "experiment", "path")
    case "map_overlay"       => Seq("project", "experiment", "source", "variable", "date")
    case other => throw new IllegalArgumentException(s"Unknown table '$other'")
  }
}
