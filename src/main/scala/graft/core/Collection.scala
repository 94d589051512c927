package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.functions.{LshForestHit, Quantization}
import graft.operators.{AnnLsh, Crud, Knn}
import graft.query.FilterCompiler

/** Options mirroring the reference's CollectionOptions
  * (collection.go:30-52). precision="medium" searches probe an LSH
  * forest (the analogue of the reference's `numTrees` forest,
  * lshtree.go:88): `lshTables` independent `lshPlanes`-plane tables,
  * candidates from the union of the query's buckets — recall
  * compounds with the table count while each table's probe stays
  * narrow. The default single table is the one-table forest.
  * `lshProbes` > 1 adds query-directed multiprobe (Lv et al. 2007) to
  * k-NN: each table also probes its lowest-|margin| bit flips — the
  * analogue of the reference's boundary backtracking
  * (lshtree.go:283-336). Same recall/mass frontier with ~probes-x
  * fewer tables, so a persisted forest index shrinks accordingly. */
final case class CollectionOptions(
    name: String,
    dimensionCount: Int,
    distanceMethod: Knn.Metric = Knn.Cosine,
    quantization: Int = 64,
    lshPlanes: Int = 4,
    lshTables: Int = 1,
    lshProbes: Int = 1)

/** Search arguments mirroring the reference's SearchArgs
  * (collection.go:160-183): k-NN, radius, exhaustive listing with
  * pagination, a filter in the query DSL, and precision "exact" vs
  * "medium" (ANN via LSH buckets). */
final case class SearchArgs(
    vector: Option[Seq[Double]] = None,
    k: Int = 0,
    radius: Double = 0.0,
    limit: Int = 0,
    offset: Int = 0,
    precision: String = "medium",
    filter: Option[String] = None)

/** Search results with scan telemetry — the reference's
  * `SearchResults` (collection.go:125-135): the matching rows plus the
  * percentage of the corpus that was touched to produce them (100 for
  * exact/radius/listing scans, the probed-bucket mass for
  * precision="medium" ANN). */
final case class SearchResults(results: DataFrame, percentSearched: Double)

/** An embeddable vector collection over a parquet-backed versioned
  * log — the Spark-native re-expression of the reference's
  * `Collection` (collection.go): same operations, but every mutation
  * is an appended batch, and every read is a plan over a snapshot of
  * "latest version per id, minus tombstones".
  *
  * The snapshot ([[current]]) is that view materialized once per
  * observable log state and reused by every read until the state
  * changes — the reference likewise probes records it already holds
  * (collection.go:569-712) instead of replaying its log per search.
  *  - Key: the live log directory plus the name, length and
  *    modification time of each of its parquet files. Any write on
  *    the path changes it — this instance's, another `Collection`'s
  *    on the same path, a compaction, a file rewritten in place — so
  *    the next read lists the log, sees a new key and rebuilds. The
  *    listing takes the write lock, so a batch this instance appends
  *    is seen whole or not at all.
  *  - Build: exactly the key's files, the fixed log schema, the
  *    current-view window, then `localCheckpoint` to DISK_ONLY. The
  *    heap holds none of the view's rows; one build per key, and its
  *    row count is memoized, so counts and stats run no job.
  *  - Release: a superseded snapshot is never unpersisted explicitly.
  *    Spark's ContextCleaner frees its blocks once nothing references
  *    it, so a plan a caller still holds keeps reading across any
  *    number of writes and compactions. Do not `persist` or
  *    `unpersist` what [[current]] returns.
  *
  * Storage layout (`path/`): parquet files with columns
  * (id long, vector array<double>, metadata string-json,
  * version long, deleted boolean). At 100 TB the log would be
  * partitioned/bucketed by id range and compacted periodically; the
  * current-view window then shuffles only new deltas.
  */
final class Collection(spark: SparkSession, val options: CollectionOptions, path: String) {
  import Collection.{LogSchema, LogState}

  // resolve the filesystem FROM the collection path, not the default
  // scheme: a collection on s3a://... must list/delete on that store,
  // not on whatever fs.defaultFS points at
  private def fs() = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Generation dirs produced by [[compact]]: `path.genN`. A
    * generation is only real once its `_SUCCESS` marker exists (the
    * last file Spark's committer writes), so "which data is current"
    * flips atomically with that marker — a crash at ANY point of a
    * compaction leaves the previous generation fully readable. */
  private def completeGens(): Seq[Int] = {
    val f = fs()
    val p = new org.apache.hadoop.fs.Path(path)
    val parent = p.getParent
    if (parent == null || !f.exists(parent)) return Seq.empty
    val prefix = p.getName + ".gen"
    f.listStatus(parent).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .flatMap(g => g.getName.stripPrefix(prefix).toIntOption.map(n => (n, g)))
      .filter { case (_, g) =>
        f.exists(new org.apache.hadoop.fs.Path(g, "_SUCCESS")) }
      .map(_._1)
  }

  /** Where the live log lives: the highest COMPLETE generation, or the
    * original `path` before any compaction. */
  private def dataPath(): String =
    completeGens().maxOption.map(n => s"$path.gen$n").getOrElse(path)

  /** The log's observable state: the directory [[dataPath]] resolves
    * to, and the name, length and modification time of each parquet
    * file in it. A write by any `Collection` on this path — an append,
    * a compaction, a file rewritten in place — changes it. */
  private def logState(): LogState = {
    val dir = dataPath()
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = fs()
    val files =
      if (!f.exists(p)) Nil
      else f.listStatus(p).toSeq.map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .filter { case (n, _, _) => n.endsWith(".parquet") && !n.startsWith("_") }
        .sorted
    LogState(dir, files)
  }

  /** Exactly the files of `state`, under the fixed log schema (no
    * inference, and a file appended after the listing is not read). */
  private def read(state: LogState): DataFrame =
    if (state.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        LogSchema)
    else spark.read.schema(LogSchema).parquet(state.paths.map(_.toString): _*)

  /** Max version of each log file whose footer [[nextVersion]] has
    * read, keyed by (dir, name, length, modification time): the file
    * identity [[LogState]] uses, so a file rewritten in place gets a
    * new key and is read again. Guarded by [[writeLock]]. Each
    * successful [[nextVersion]] replaces it with the entries of the
    * state it listed, so it never holds more than the live log's
    * files, and a compaction's new directory starts it afresh. */
  private var footerMax = Map.empty[(String, String, Long, Long), Long]

  /** Max version of one log file from its parquet FOOTER statistics:
    * zero row data (every appended batch carries one constant
    * version, so file-level min/max stats are exact). -1 for a file
    * with no rows; throws if a row group lacks stats for the column. */
  private def footerMaxVersion(p: org.apache.hadoop.fs.Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p,
      spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    var mx = -1L
    try {
      reader.getFooter.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          if (c.getPath.toDotString == "version") {
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue)
              throw new IllegalStateException(s"no version stats in $p")
            mx = math.max(mx, st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
          }
        }
      }
    } finally reader.close()
    mx
  }

  /** One above the max version of `state`, from footer statistics:
    * the scale answer to a monotonic version counter without a
    * coordination service. Footer reads are O(files not yet seen):
    * a file already in [[footerMax]] under the same key is not
    * opened again, so a write's cost does not grow with the log.
    * Falls back to a full aggregate, reported on stderr and not
    * cached, only if a footer cannot be read or lacks stats. */
  private def nextVersion(state: LogState): Long =
    try {
      val maxes = state.files.map { case (n, len, mtime) =>
        val key = (state.dir, n, len, mtime)
        key -> footerMax.getOrElse(key,
          footerMaxVersion(new org.apache.hadoop.fs.Path(state.dir, n)))
      }
      footerMax = maxes.toMap
      maxes.map(_._2).maxOption.getOrElse(-1L) + 1
    } catch {
      case e: Exception =>
        System.err.println(s"Collection.nextVersion: footer read of ${state.dir} failed " +
          s"(${e.getClass.getName}: ${e.getMessage}); aggregating the log instead")
        read(state).agg(coalesce(max(col("version")), lit(-1L))).head().getLong(0) + 1
    }

  /** How many files' maxima [[footerMax]] holds: never more than the
    * live log's files. */
  private[graft] def footersCached: Int = writeLock.synchronized(footerMax.size)

  /** Mutations serialize on this per-collection lock — the analogue of
    * the reference's per-collection mutex (collection.go lock
    * discipline). Every write is read-version-then-append: two
    * unserialized writers could mint the SAME version for different
    * batches and make "latest version per id" ambiguous, so the
    * critical section spans both steps.
    *  - A write whose rows are already on the driver — a `Seq` of
    *    tombstone ids, the one row of [[updateMetadata]], a
    *    [[addDocuments]] frame whose optimized plan is a
    *    `LocalRelation` — lands as exactly one parquet file, so the
    *    log (and each later listing, footer pass and snapshot scan)
    *    grows by one file per such write, not by one per core.
    *  - A distributed frame keeps its partitioning and lands as
    *    several files, renamed into place one by one, so a reader
    *    lists the log under this lock too (see [[snapshot]]) and sees
    *    an in-process batch whole or not at all.
    * [[compact]] keeps the previous generation on disk (its retention
    * window, default 1), so a snapshot being built from the OLD
    * generation across one concurrent compaction still reads it. On
    * a multi-writer cluster this lock would be a transaction-log
    * protocol instead (single-JVM serving façade contract). */
  private val writeLock = new Object

  private def append(batch: DataFrame): Unit =
    batch.write.mode("append").parquet(dataPath())

  /** AddDocument upsert (collection.go:427): vectors are stored
    * quantized per options (lossy below 32 bits, like the
    * reference). A null vector, or one whose length is not
    * `dimensionCount`, fails the append and stores nothing (the
    * reference panics, collection.go:431-433); the check runs inside
    * the append's own projection, so it adds no job.
    *
    * If `docs`' optimized plan is a `LocalRelation` (its rows are
    * held by the driver, as for every `createDataFrame(Seq)` batch),
    * the batch lands as one parquet file, and an empty one appends
    * nothing and mints no version. Any other frame keeps its
    * partitioning: one file per non-empty partition. */
  def addDocuments(docs: DataFrame): Unit = writeLock.synchronized {
    val held = docs.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => Some(l.data)
      case _ => None
    }
    if (!held.exists(_.isEmpty)) {
      val v = nextVersion(logState())
      val dim = options.dimensionCount
      val checked = when(col("vector").isNull || size(col("vector")) =!= dim,
        raise_error(concat(lit("record "), col("id").cast("string"),
          lit(s": vector must have $dim dimensions"))))
        .otherwise(col("vector"))
      val vec = options.quantization match {
        case 32 => checked.cast("array<float>").cast("array<double>")
        case 64 => checked.cast("array<double>")
        case bits => Quantization.dequantize(Quantization.quantize(checked, bits), bits)
      }
      val batch = docs.select(col("id").cast("long"), vec.as("vector"),
        col("metadata").cast("string"), lit(v).as("version"), lit(false).as("deleted"))
      append(if (held.isDefined) batch.coalesce(1) else batch)
    }
  }

  /** UpdateDocument metadata (collection.go:490): rewrite metadata,
    * keep the stored vector. The at most one row lands as one file;
    * an absent id leaves the log as it was. */
  def updateMetadata(id: Long, metadata: String): Unit = writeLock.synchronized {
    val state = logState()
    val v = nextVersion(state)
    append(current().filter(col("id") === id)
      .select(col("id"), col("vector"), lit(metadata).as("metadata"),
        lit(v).as("version"), lit(false).as("deleted"))
      .coalesce(1))
    // Spark writes partition 0's file even when it holds no rows, so
    // an absent id wrote one empty file: delete it, and the log state
    // (and with it the snapshot) is what it was before this call. A
    // footer that throws has a row group, so that file stays.
    logState().paths.filterNot(state.paths.contains)
      .filter(p => scala.util.Try(footerMaxVersion(p)).toOption.contains(-1L))
      .foreach(fs().delete(_, false))
  }

  /** RemoveDocument (collection.go:511): tombstone append, as one
    * file; no ids append nothing. */
  def removeDocuments(ids: Seq[Long]): Unit = writeLock.synchronized {
    if (ids.nonEmpty) {
      val v = nextVersion(logState())
      append(spark.createDataFrame(ids.map(i => Tuple1(i))).toDF("id")
        .select(col("id").cast("long"), lit(null).cast("array<double>").as("vector"),
          lit(null).cast("string").as("metadata"), lit(v).as("version"),
          lit(true).as("deleted"))
        .coalesce(1))
    }
  }

  /** The current view of one log state — latest version per id, minus
    * tombstones — materialized once, on local disk. */
  private final class Snapshot(val state: LogState) {
    val view: DataFrame = {
      // names every stage of the build, AQE's shuffle-map job too: that
      // job runs on another thread, which inherits this call site
      val sc = spark.sparkContext
      val callerSite = sc.getLocalProperty("callSite.short")
      sc.setCallSite("localCheckpoint at Collection.Snapshot")
      try Crud.currentView(read(state), "id", "version", "deleted")
        .select(col("id"), col("vector"), col("metadata"))
        .localCheckpoint(eager = true, StorageLevel.DISK_ONLY)
      finally sc.setLocalProperty("callSite.short", callerSite)
    }
    // the checkpoint's rows, counted in one job (`view.count()` is an
    // aggregate with an exchange: two jobs under AQE)
    lazy val count: Long = view.queryExecution.toRdd.count()
  }

  private val buildLock = new Object
  private var latest: Snapshot = null // guarded by buildLock

  /** The snapshot of the log as it is now: the log is listed under
    * [[writeLock]] and, if its state changed, one new snapshot is
    * built; concurrent readers of that state wait for the one build. */
  private def snapshot(): Snapshot = {
    val state = writeLock.synchronized(logState())
    buildLock.synchronized {
      if (latest == null || latest.state != state) latest = new Snapshot(state)
      latest
    }
  }

  /** Latest-version view minus tombstones: the current [[snapshot]]. */
  def current(): DataFrame = snapshot().view

  def documentCount(): Long = snapshot().count

  /** Driver-sized BY CONTRACT: mirrors the reference API
    * (collection.go:326 returns `[]uint64` in memory). At scale use the
    * DataFrame surface instead — `current().select("id")` — which never
    * collects. */
  def getAllIds(): Seq[Long] =
    current().select(col("id")).orderBy(col("id")).collect().map(_.getLong(0)).toSeq

  /** The reference's single search endpoint (collection.go:569):
    * dispatches on (k, radius, precision) exactly like the Go code.
    * A k-NN or radius search is exact over the filtered rows; at
    * precision="medium" it is the same search over the rows the LSH
    * probe keeps ([[probe]]). */
  def search(args: SearchArgs): DataFrame =
    search(filteredView(snapshot(), args), args, probe(args))

  private def filteredView(snap: Snapshot, args: SearchArgs): DataFrame =
    args.filter match {
      case Some(f) => snap.view.filter(FilterCompiler.compileJson(f, col("metadata")))
      case None => snap.view
    }

  /** The probe of a precision="medium" k-NN or radius search: the
    * rows in any of the query's forest buckets, with the keys computed
    * once, locally, from the request vector. k-NN probes `lshProbes` keys per table; a
    * one-table radius search probes the bucket and its Hamming-1
    * neighbors, like the reference's index.search with a radius
    * (collection.go:690). None for exact searches and listings. */
  private def probe(args: SearchArgs): Option[Column] = args.vector match {
    case Some(q) if args.precision != "exact" && (args.k != 0 || args.radius != 0.0) =>
      import options._
      val (keys, perTable) =
        if (args.radius != 0.0 && lshTables == 1)
          (AnnLsh.hammingProbeKeysLocal(q.toArray, lshPlanes, dimensionCount), lshPlanes + 1)
        else
          (AnnLsh.forestProbeKeysLocal(q.toArray, lshTables, lshPlanes, dimensionCount,
            lshProbes), lshProbes)
      Some(LshForestHit.hit(col("vector"), keys, lshPlanes, dimensionCount, perTable))
    case _ => None
  }

  private def search(filtered: DataFrame, args: SearchArgs, hit: Option[Column]): DataFrame =
    (args.vector, args.k, args.radius) match {
      case (None, _, _) | (_, 0, 0.0) =>
        // exhaustive listing with pagination, stable id order; no
        // limit -> plain sorted scan (a limit of MaxValue would build
        // a corpus-sized TakeOrdered heap)
        if (args.limit > 0)
          Knn.listRecords(filtered, "id", None, args.limit, args.offset)
        else if (args.offset > 0) {
          // unbounded listing from an offset: anti-join away the first
          // `offset` ids (a TakeOrdered head, broadcastable) instead of
          // ranking the whole corpus in one global window
          val head = filtered.orderBy(col("id").asc).limit(args.offset)
            .select(col("id"))
          filtered.join(broadcast(head), Seq("id"), "left_anti")
            .orderBy(col("id").asc)
        } else filtered.orderBy(col("id").asc)
      case (Some(q), k, r) =>
        val qdf = spark.createDataFrame(Seq(Tuple1(q))).toDF("qvec")
        val rows = hit.fold(filtered)(filtered.filter)
        if (r == 0.0) Knn.knn(rows, "vector", qdf, k, options.distanceMethod, "id")
        else Knn.radius(rows, "vector", qdf, r, options.distanceMethod)
    }

  /** As [[search]], also reporting PercentSearched
    * (collection.go:569-712): exhaustive modes touch the whole filtered
    * corpus (100%); a precision="medium" k-NN or radius search touches
    * only the rows its [[probe]] keeps, and the fraction is their share
    * of the filtered corpus. */
  def searchWithStats(args: SearchArgs): SearchResults = {
    // results and percentage from one snapshot and one probe
    val snap = snapshot()
    val filtered = filteredView(snap, args)
    val hit = probe(args)
    val results = search(filtered, args, hit)
    val pct = hit match {
      case Some(h) if args.radius > 0.0 || (args.radius == 0.0 && args.k > 0) =>
        AnnLsh.percentProbed(filtered, h)
      case _ => if (snap.count == 0L) 0.0 else 100.0
    }
    SearchResults(results, pct)
  }

  /** GetDocument (collection.go:463). */
  def getDocument(id: Long): Option[(Seq[Double], String)] =
    current().filter(col("id") === id)
      .select(col("vector"), col("metadata"))
      .collect().headOption
      .map(r => (r.getSeq[Double](0), r.getString(1)))

  /** computeAverageDistance (collection.go:348): mean pairwise
    * distance over a deterministic sample (the `sampleIds` lowest ids
    * — engine-reproducible, unlike the reference's RNG sampling). */
  def averageDistance(sampleIds: Int): Double = {
    import graft.functions.Vectors
    val sample = current().orderBy(col("id")).limit(sampleIds)
      .select(col("id"), col("vector"))
    val a = sample.select(col("id").as("i"), col("vector").as("va"))
    val b = sample.select(col("id").as("j"), col("vector").as("vb"))
    val d = Knn.distCol(options.distanceMethod, col("va"), col("vb"))
    val row = a.join(broadcast(b), col("i") < col("j"))
      .agg(avg(d)).collect().head
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** ComputeStats (collection.go:67): counts and storage footprint. */
  def stats(): (Long, Int, Long) = {
    val n = documentCount()
    val bytesPerVec = options.quantization / 8 * options.dimensionCount
    (n, options.dimensionCount, n * bytesPerVec)
  }

  /** DumpIndex (dump.go): export the current view for inspection /
    * backup — json lines with id, vector, metadata. */
  def dump(outPath: String): Unit =
    current().orderBy(col("id")).write.mode("overwrite").json(outPath)

  /** ExportJSON (dump.go:48) parity: ONE deterministic local file —
    * the first line is the collection's options (the exact JSON
    * [[Collection.create]] persists), then one JSON line per record
    * in id order. A debugging/backup affordance by design (the
    * reference writes a single stream too), so it is driver-written —
    * but it STREAMS via `toLocalIterator` (the driver holds one
    * partition of rows, never the collection) and each line is
    * Spark's own row-JSON, so field escaping matches the distributed
    * [[dump]] byte for byte. [[Collection.importDumpFile]] is the
    * inverse (ImportJSON, dump.go:138). */
  def dumpFile(outFile: String): Unit = {
    val mp = new org.apache.hadoop.fs.Path(outFile)
    val hfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // write-then-rename: creating the destination directly would
    // truncate the PREVIOUS backup before the dump query produced a
    // row, so a mid-dump failure (executor loss, disk full) would
    // destroy the only good copy along with the new one (review r19)
    val tmp = new org.apache.hadoop.fs.Path(outFile + ".tmp")
    // a plain Writer, NOT PrintWriter: PrintWriter swallows IO errors
    // into an internal flag, so a disk-full mid-dump would return
    // normally and leave a silently truncated backup (review r19)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      hfs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8))
    var ok = false
    try {
      out.write(Collection.optionsJson(options)); out.write('\n')
      val it = current().orderBy(col("id"))
        .select(col("id"), col("vector"), col("metadata"))
        .toJSON.toLocalIterator()
      while (it.hasNext) { out.write(it.next()); out.write('\n') }
      ok = true
    } finally {
      out.close()
      if (ok) {
        hfs.delete(mp, false)
        require(hfs.rename(tmp, mp), s"rename $tmp -> $mp failed")
      } else hfs.delete(tmp, false)
    }
  }

  /** The COMPLETE generation numbers currently on disk, oldest first
    * — the observable face of [[compact]]'s retention window (the
    * serving façade surfaces it in stats so an operator can see how
    * many superseded generations a reader's pre-compact plan can
    * still resolve). Empty before the first compaction. */
  def generations: Seq[Int] = completeGens().sorted

  /** Compact the versioned log: collapse to the current view at
    * version 0 and drop superseded rows and tombstones. The log's
    * read cost is O(total mutations) until compacted; run this
    * periodically like any LSM/merge-on-read store.
    *
    * Crash-safe by construction (single writer): the compacted view
    * is written to a NEW generation dir `path.genN+1`; it only
    * becomes current when its `_SUCCESS` marker lands (the last write
    * of the job), and superseded data is deleted strictly after.
    * A crash at any step leaves the previous generation complete and
    * served — there is no delete-before-rename window (the old
    * implementation destroyed the only copy if it died between
    * `delete(dst)` and `rename(tmp, dst)`).
    *
    * `retainGenerations` keeps the newest N superseded generations on
    * disk (default 1): a reader whose plan resolved to the PREVIOUS
    * generation before this compact started can still execute it
    * afterwards — the filesystem analogue of the RWMutex that lets
    * the reference serve reads across a rewrite (collection.go;
    * VERDICT r12 #8). Older generations — including, eventually, the
    * original bare-path log, which counts as the oldest generation —
    * fall out of the window on subsequent compactions. Pass 0 to
    * reclaim everything immediately (no concurrent readers). */
  def compact(retainGenerations: Int = 1): Unit = writeLock.synchronized {
    require(retainGenerations >= 0,
      s"retainGenerations must be >= 0, got $retainGenerations")
    val f = fs()
    val next = completeGens().maxOption.getOrElse(0) + 1
    // mode=overwrite clears any partial dir a crashed attempt left
    current()
      .select(col("id"), col("vector"), col("metadata"),
        lit(0L).as("version"), lit(false).as("deleted"))
      .write.mode("overwrite").parquet(s"$path.gen$next")
    // the new generation is complete (readers already resolve to it);
    // now — and only now — retire generations beyond the retention
    // window, oldest first. The bare `path` log participates so it is
    // never orphaned: a compaction that crashed after its _SUCCESS
    // but before these deletes merely leaves one extra window entry
    // for the next compact to collect.
    val older = completeGens().filter(_ < next).sorted.map(n => s"$path.gen$n")
    val retired =
      (if (f.exists(new org.apache.hadoop.fs.Path(path))) Seq(path) else Nil) ++
        older
    retired.dropRight(retainGenerations).foreach { p =>
      f.delete(new org.apache.hadoop.fs.Path(p), true)
    }
  }
}

object Collection {

  /** The fixed five-column schema of every log file. */
  private val LogSchema = StructType(Seq(
    StructField("id", LongType), StructField("vector", ArrayType(DoubleType)),
    StructField("metadata", StringType), StructField("version", LongType),
    StructField("deleted", BooleanType)))

  /** See [[Collection#logState]]: `files` holds (name, length,
    * modification time), name-sorted. */
  private final case class LogState(dir: String, files: Seq[(String, Long, Long)]) {
    def paths: Seq[org.apache.hadoop.fs.Path] =
      files.map { case (n, _, _) => new org.apache.hadoop.fs.Path(dir, n) }
  }

  private def metaPath(path: String) = s"$path.options.json"

  /** NewCollection (collection.go:224): persists the options next to
    * the log (the reference stores them in the spanfile header) so a
    * later [[open]] needs only the path. */
  /** The persisted options JSON — shared by [[create]]'s sidecar and
    * [[Collection#dumpFile]]'s header line, so a dump's first line
    * always round-trips through the same reader as a sidecar.
    * Single-line (newlines collapse) so the dump stays one JSON
    * object per line. */
  private[core] def optionsJson(options: CollectionOptions): String =
    s"""{"name": ${q(options.name)}, "dimensionCount": ${options.dimensionCount},
       | "distanceMethod": ${q(options.distanceMethod match {
           case Knn.Cosine => "cosine"; case Knn.Euclidean => "euclidean" })},
       | "quantization": ${options.quantization}, "lshPlanes": ${options.lshPlanes},
       | "lshTables": ${options.lshTables}, "lshProbes": ${options.lshProbes}}"""
      .stripMargin.replace("\n", "")

  def create(spark: SparkSession, options: CollectionOptions, path: String): Collection = {
    val json = optionsJson(options)
    val mp = new org.apache.hadoop.fs.Path(metaPath(path))
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    out.write(json.getBytes("UTF-8"))
    out.close()
    new Collection(spark, options, path)
  }

  /** Recreate a collection from a [[Collection#dump]] backup — the
    * reference's ImportJSON (dump.go:138): create with the given
    * options, then load every dumped record. */
  def importDump(spark: SparkSession, options: CollectionOptions,
                 path: String, dumpPath: String): Collection = {
    val c = create(spark, options, path)
    c.addDocuments(graft.sources.Sources.dumpRecords(spark, dumpPath))
    c
  }

  /** Inverse of [[Collection#dumpFile]]: the first line carries the
    * options (no separate options argument — the dump is
    * self-describing, like the reference's single-stream ImportJSON),
    * the rest are records. The record frame is read DISTRIBUTED
    * (spark.read.json over the whole file; the header row surfaces
    * with a null id and is filtered out — options fields and record
    * fields share no column names). */
  def importDumpFile(spark: SparkSession, path: String,
                     dumpFile: String): Collection = {
    val mp = new org.apache.hadoop.fs.Path(dumpFile)
    val hfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      hfs.open(mp), java.nio.charset.StandardCharsets.UTF_8))
    val (header, hasRecordLines) =
      try {
        val h = in.readLine()
        val second = if (h == null) null else in.readLine()
        (h, second != null && second.nonEmpty)
      } finally in.close()
    require(header != null && header.contains("dimensionCount"),
      s"$dumpFile does not start with a collection-options line")
    // the header is parsed DRIVER-SIDE through the SAME parser as
    // the .options.json sidecar — the first cut round-tripped it
    // through a temp file + spark.read.json, which resolved the temp
    // path against the session-DEFAULT filesystem while writing it on
    // the dump's filesystem (cross-FS imports read a missing — or
    // worse, a stale — header), and hand-rolled a second, stricter
    // parser that rejected pre-lshTables headers open() accepts
    // (review r19)
    val c = create(spark, parseOptionsJson(header), path)
    if (hasRecordLines) {
      val recs = spark.read.json(dumpFile)
      // record lines exist, so a missing `id` column means the lines
      // are corrupt (encoding damage, foreign format) — fail loudly
      // instead of "successfully" restoring an empty collection; only
      // a header-ONLY dump (an empty collection is a legal dump)
      // skips the load (review r19)
      require(recs.columns.contains("id"),
        s"$dumpFile has record lines but no 'id' field — corrupt dump?")
      c.addDocuments(recs
        .filter(org.apache.spark.sql.functions.col("id").isNotNull)
        .select(org.apache.spark.sql.functions.col("id").cast("long"),
          org.apache.spark.sql.functions.col("vector")
            .cast("array<double>"),
          org.apache.spark.sql.functions.col("metadata").cast("string")))
    }
    c
  }

  /** The single parser for the options JSON — the `.options.json`
    * sidecar ([[open]]) and a dump's header line ([[importDumpFile]])
    * are the SAME format and must never drift (review r19: two
    * independent parsers had different tolerances). Required fields
    * fail with a named error (never a bare NPE); numeric fields must
    * BE numbers (Jackson's asInt would coerce garbage to 0);
    * lshTables/lshProbes default to 1 for pre-forest-era files. */
  private[core] def parseOptionsJson(json: String): CollectionOptions = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    def str(f: String): String = {
      require(node.hasNonNull(f) && node.get(f).isTextual,
        s"options json missing string field '$f'")
      node.get(f).asText
    }
    def num(f: String, default: Option[Int] = None): Int =
      if (!node.has(f)) default.getOrElse {
        throw new IllegalArgumentException(
          s"options json missing numeric field '$f'")
      }
      else {
        require(node.get(f).isNumber,
          s"options json field '$f' is not a number")
        node.get(f).asInt
      }
    CollectionOptions(
      str("name"), num("dimensionCount"),
      if (str("distanceMethod") == "euclidean") Knn.Euclidean
      else Knn.Cosine,
      num("quantization"), num("lshPlanes"),
      num("lshTables", Some(1)), num("lshProbes", Some(1)))
  }

  /** Reopen an existing collection from its persisted options —
    * through [[parseOptionsJson]], the same parser a dump header
    * goes through (one format, one parser; Jackson reads the older
    * multi-line sidecars as readily as the single-line form, and a
    * driver-side read of the sidecar's OWN filesystem replaces a
    * whole Spark json job for a one-object file). Older collections
    * predate lshTables/lshProbes; absent -> single-table,
    * single-probe (the parser's defaults). */
  def open(spark: SparkSession, path: String): Collection =
    new Collection(spark, readOptions(spark, new org.apache.hadoop.fs.Path(metaPath(path))), path)

  /** Driver-side read of an `.options.json` sidecar on its own
    * filesystem, through [[parseOptionsJson]]. */
  private def readOptions(spark: SparkSession, mp: org.apache.hadoop.fs.Path): CollectionOptions = {
    val hfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = hfs.open(mp)
    val json = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    parseOptionsJson(json)
  }

  private def q(s: String): String =
    "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""

  // ---- collection registry (the reference server's collection
  // directory, rest.go:67 handleCollections / :176 DELETE) ----

  /** All collections under `rootDir`, by their persisted options
    * files (read like [[open]] reads them, no Spark job). Returns
    * (name, path) pairs, name-sorted. */
  def list(spark: SparkSession, rootDir: String): Seq[(String, String)] = {
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .map(_.getPath)
      .filter(_.getName.endsWith(".options.json"))
      .map { p =>
        (readOptions(spark, p).name, p.toString.stripSuffix(".options.json"))
      }
      .sortBy(_._1)
  }

  /** Drop a collection: delete its log (all generations) and options
    * file (rest.go:176 DELETE /api/v1/collections/{name}). */
  def drop(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens =
      if (p.getParent != null && fs.exists(p.getParent))
        fs.listStatus(p.getParent).toSeq.map(_.getPath)
          .filter(_.getName.startsWith(p.getName + ".gen"))
      else Seq.empty
    val genDeleted = gens.map(g => fs.delete(g, true)).exists(identity)
    val data = fs.delete(p, true)
    val meta = fs.delete(new org.apache.hadoop.fs.Path(metaPath(path)), false)
    data || meta || genDeleted
  }
}
