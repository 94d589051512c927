package graft.core

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
  * narrow. The default single table is the one-table forest. */
final case class CollectionOptions(
    name: String,
    dimensionCount: Int,
    distanceMethod: Knn.Metric = Knn.Cosine,
    quantization: Int = 64,
    lshPlanes: Int = 4,
    lshTables: Int = 1)

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
  * Which parquet files are live and which version comes next are
  * recorded in one place, as the reference's one span file records
  * them (spanfile.go): an append-only commit log beside the data, one
  * file `path._log/<v>.json` per write, as in the Delta Lake
  * transaction log (Armbrust et al., VLDB 2020). A write mints `v` =
  * latest commit + 1, writes its batch (with `version` = `v`) into a
  * directory of its own and [[publish]]es commit `v` naming its files;
  * a read takes exactly the files the commits name, from the newest
  * base commit ([[compact]]) on. So a reader sees a batch whole or not
  * at all, and a parquet file no commit names is never read.
  *
  * The snapshot is that view materialized once per commit and reused
  * by every read until the next one — the reference likewise probes
  * records it already holds (collection.go:569-712) instead of
  * replaying its log per search.
  *  - Key: the latest commit number. Commits are immutable, so each
  *    is parsed once, in any call order.
  *  - Build: exactly the commits' files, the fixed log schema, the
  *    current-view window; one build per commit, run by two Spark jobs
  *    (AQE's shuffle-map job and the result job), named by their job
  *    description `Collection.snapshot <name>`.
  *  - Held on the driver, below [[Collection.HeldBytes]] (the summed
  *    length of the parquet files the snapshot's commits name, read
  *    from file status, so checking it runs no job): the build
  *    collects the view once into a [[HeldView]], its rows on the
  *    driver heap in id order, and every read of that commit — exact
  *    and medium k-NN, radius, filtered search, listing,
  *    [[getDocument]], [[getAllIds]], [[documentCount]],
  *    percentSearched — is answered from it on the driver with no
  *    Spark job, by the same Catalyst expressions the Spark plan
  *    evaluates. Results are `LocalRelation`s, so collecting them runs
  *    no job either. The GC reclaims a superseded held view once
  *    nothing references it.
  *  - Checkpointed, at or above the bound: the view is
  *    `localCheckpoint`ed to DISK_ONLY and reads are Spark plans over
  *    it; its row count is memoized. A superseded checkpoint is never
  *    unpersisted explicitly: Spark's ContextCleaner frees its blocks
  *    once nothing references it.
  *  - Either way a plan a caller holds ([[current]], a search result)
  *    keeps reading across any number of writes and compactions. Do
  *    not `persist` or `unpersist` what [[current]] returns.
  *
  * Storage layout: parquet files with columns (id long, vector
  * array<double>, metadata string-json, version long, deleted
  * boolean), one directory per batch inside `path/` before the first
  * compaction and inside `path.genN/` after it. At 100 TB the log
  * would be partitioned/bucketed by id range and compacted
  * periodically; the current-view window then shuffles only new
  * deltas.
  */
final class Collection private[graft] (spark: SparkSession, val options: CollectionOptions,
                                      path: String, heldBytes: Long) {
  import Collection.{Commit, LogSchema, generationDirs, generationName, readText}

  def this(spark: SparkSession, options: CollectionOptions, path: String) =
    this(spark, options, path, Collection.HeldBytes)

  // resolve the filesystem FROM the collection path, not the default
  // scheme: a collection on s3a://... must list/delete on that store,
  // not on whatever fs.defaultFS points at
  private def fs() = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val name = new Path(path).getName

  /** Runs `body` with its Spark jobs described as `Collection.<what> <name>`. */
  private def described[T](what: String)(body: => T): T =
    JobDescription.around(spark.sparkContext, s"Collection.$what $name")(body)

  /** The commit log: beside the data, since compaction retires `path`. */
  private val logDir = new Path(s"$path._log")

  private def commitPath(v: Long) = new Path(logDir, s"$v.json")

  /** A file or directory as commits name it: relative to the directory
    * holding `path`, so the collection moves as a whole. */
  private def resolve(rel: String) = new Path(new Path(path).getParent, rel)

  /** The parquet files directly in directory `rel`, named like a
    * commit names them. */
  private def parquetIn(rel: String): Seq[String] =
    fs().listStatus(resolve(rel)).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
      .sorted.map(n => s"$rel/$n")

  /** The commit numbers in the log, ascending. */
  private def listCommits(): Seq[Long] =
    try fs().listStatus(logDir).toSeq.map(_.getPath.getName).filter(_.endsWith(".json"))
      .flatMap(_.stripSuffix(".json").toLongOption).sorted
    catch { case _: java.io.FileNotFoundException => Nil }

  /** A log written before the commit log existed (parquet files in
    * `path` or `path.genN`, no commit) is adopted once, on first
    * access: one commit names the files of the directory that layout
    * served — the highest generation with a `_SUCCESS` marker, else
    * `path` — numbered from one aggregate of their max version. */
  private lazy val adopted: Unit = if (listCommits().isEmpty) {
    val f = fs()
    generationDirs(f, path)
      .filter { case (n, d) => n == 0 || f.exists(new Path(d, "_SUCCESS")) }
      .lastOption.foreach { case (n, _) =>
        val files = parquetIn(generationName(name, n))
        if (files.nonEmpty) {
          val top = described("adopt")(read(files).agg(max(col("version"))).head())
          publish(Commit(if (top.isNullAt(0)) 0L else math.max(0L, top.getLong(0)),
            Some(n).filter(_ > 0), files))
        }
      }
  }

  /** The log's commits, after adopting a log of the older layout. */
  private def commits(): Seq[Long] = { adopted; listCommits() }

  /** Each commit read so far, by number. Commits are immutable, so an
    * entry is never stale; entries below the oldest listed commit
    * (retired by [[compact]]) are dropped. */
  private val parsed = new java.util.concurrent.ConcurrentHashMap[Long, Commit]()

  private def commitAt(v: Long): Commit =
    parsed.computeIfAbsent(v, _ => Commit.parse(readText(fs(), commitPath(v))))

  /** Publishes `c` as commit `c.version`, atomically and never over an
    * existing commit: a reader sees it whole or not at all, and of two
    * writers publishing one number exactly one wins. The commit is
    * written in full to a temp file, then linked into place; a hard
    * link fails if the name exists, while `create(overwrite = false)`
    * checks and then opens, so two writers could both pass its check.
    * Off the local filesystem `rename` is the step, which HDFS refuses
    * over an existing file. False if the number was taken. */
  private[graft] def publish(c: Commit): Boolean = {
    val f = fs()
    val dst = commitPath(c.version)
    val tmp = new Path(logDir, s".${c.version}.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, false)
    try out.write(c.json.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    try {
      if (f.getScheme == "file") {
        def local(p: Path) = java.nio.file.Paths.get(f.makeQualified(p).toUri)
        try { java.nio.file.Files.createLink(local(dst), local(tmp)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else f.rename(tmp, dst)
    } finally f.delete(tmp, false)
  }

  /** Exactly `files`, under the fixed log schema (no inference). */
  private def read(files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], LogSchema)
    else spark.read.schema(LogSchema).parquet(files.map(resolve(_).toString): _*)

  /** Serializes this instance's writers, so they do not race each
    * other for a commit number — the analogue of the reference's
    * per-collection mutex (collection.go lock discipline). Writers of
    * other instances, in this JVM or another, race at [[publish]]
    * instead, and the loser retries. Readers never take it.
    * A write whose rows are already on the driver — a `Seq` of
    * tombstone ids, the one row of [[updateMetadata]], a
    * [[addDocuments]] frame whose optimized plan is a `LocalRelation`
    * — lands as exactly one parquet file, so each snapshot scan grows
    * by one file per such write, not by one per core. */
  private val writeLock = new Object

  /** Appends one batch: mints `v` = latest commit + 1, writes
    * `batch(snapshot, v)` into a directory of its own inside the live
    * generation and publishes commit `v` naming its files. If another
    * writer took `v`, the directory is deleted and the batch made again
    * at the next version, so a batch's `version` always equals its
    * commit number. `None` appends nothing; true if a commit landed. */
  private def append(batch: (Snapshot, Long) => Option[DataFrame]): Boolean =
    writeLock.synchronized(described("write")(attempt(batch)))

  @annotation.tailrec
  private def attempt(batch: (Snapshot, Long) => Option[DataFrame]): Boolean = {
    val snap = snapshot()
    val v = snap.head + 1
    batch(snap, v) match {
      case None => false
      case Some(df) =>
        // named like a partition, so the generation directory stays one
        // parquet dataset that other readers can list
        val dir = s"${generationName(name, snap.generation)}/batch=v$v-${java.util.UUID.randomUUID()}"
        df.write.parquet(resolve(dir).toString)
        if (publish(Commit(v, None, parquetIn(dir)))) true
        else { fs().delete(resolve(dir), true); attempt(batch) }
    }
  }

  /** AddDocument upsert (collection.go:427): vectors are stored
    * quantized per options (lossy below 32 bits, like the
    * reference). A null vector, or one whose length is not
    * `dimensionCount`, fails the append and stores nothing (the
    * reference panics, collection.go:431-433); the check runs inside
    * the append's own projection, so it adds no job.
    *
    * If `docs`' optimized plan is a `LocalRelation` (its rows are
    * held by the driver, as for every `createDataFrame(Seq)` batch),
    * the batch lands as one parquet file, and an empty one commits
    * nothing. Any other frame keeps its partitioning: one file per
    * non-empty partition. */
  def addDocuments(docs: DataFrame): Unit = {
    val held = docs.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => Some(l.data)
      case _ => None
    }
    if (!held.exists(_.isEmpty)) append { (_, v) =>
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
      Some(if (held.isDefined) batch.coalesce(1) else batch)
    }
  }

  /** UpdateDocument metadata (collection.go:490): rewrite metadata,
    * keep the stored vector. The id's row is read from the snapshot
    * the write is minted from, under the write lock (below the bound,
    * by binary search over the held rows); if it is absent, nothing
    * is committed and the result is false. Otherwise the one row
    * lands as one file and the result is true. */
  def updateMetadata(id: Long, metadata: String): Boolean = append { (snap, v) =>
    document(snap, id).map { case (vector, _) =>
      spark.createDataFrame(java.util.List.of(Row(id, vector, metadata, v, false)), LogSchema)
    }
  }

  /** RemoveDocument (collection.go:511): tombstone append, as one
    * file; no ids commit nothing. */
  def removeDocuments(ids: Seq[Long]): Unit =
    if (ids.nonEmpty) append { (_, v) =>
      Some(spark.createDataFrame(ids.map(i => Row(i, null, null, v, true)).asJava, LogSchema)
        .coalesce(1))
    }

  /** The log at commit `head`: `files` are those of its newest base
    * commit (in `generation`'s directory; 0 is `path`) and of every
    * commit after it. The current view — latest version per id, minus
    * tombstones — is materialized on first use, once: held on the
    * driver if the files' summed length is below `heldBytes`, else
    * checkpointed on local disk. Concurrent readers wait for the one
    * build. */
  private final class Snapshot(val head: Long, val generation: Int, files: Seq[String]) {
    lazy val isHeld: Boolean = {
      val f = fs()
      // parquet dictionary-encodes a vector quantized to `q` bits to
      // about q/64 of its held size: scale the files up to match
      files.iterator.map(r => f.getFileStatus(resolve(r)).getLen).sum <
        heldBytes / (64 / options.quantization)
    }
    /** The view's plan over the files the commits name. */
    def plan: DataFrame = Crud.currentView(read(files), "id", "version", "deleted")
      .select(col("id"), col("vector"), col("metadata"))
    /** Below the bound: the view's rows, held on the driver. */
    lazy val held: HeldView = build("executeCollect")(HeldView.collect(plan))
    /** At or above the bound: the view, checkpointed. */
    lazy val view: DataFrame =
      build("localCheckpoint")(plan.localCheckpoint(eager = true, StorageLevel.DISK_ONLY))
    /** Names every stage of the build, AQE's shuffle-map job too: that
      * job runs on another thread, which inherits this call site. */
    private def build[T](how: String)(body: => T): T = described("snapshot") {
      val sc = spark.sparkContext
      val callerSite = sc.getLocalProperty("callSite.short")
      sc.setCallSite(s"$how at Collection.Snapshot")
      try body finally sc.setLocalProperty("callSite.short", callerSite)
    }
    // the checkpoint's rows, counted in one job (`view.count()` is an
    // aggregate with an exchange: two jobs under AQE)
    lazy val count: Long =
      if (isHeld) held.size else { val v = view; described("count")(v.queryExecution.toRdd.count()) }
  }

  private val buildLock = new Object
  private var latest: Snapshot = null // guarded by buildLock

  /** The snapshot at the latest commit: the log is listed, and if its
    * latest commit number moved, the commits from the newest base on
    * name the new snapshot's files. A listing older than the snapshot
    * already held returns the held one. */
  private def snapshot(): Snapshot = {
    val log = commits()
    val head = log.lastOption.getOrElse(-1L)
    buildLock.synchronized {
      if (latest == null || latest.head < head) {
        log.headOption.foreach(first => parsed.keySet.removeIf(_ < first))
        val (after, rest) = log.reverseIterator.map(commitAt).span(_.generation.isEmpty)
        val chain = after.toList.reverse // consumed before `rest`, as `span` requires
        val base = rest.nextOption()
        latest = new Snapshot(head, base.flatMap(_.generation).getOrElse(0),
          (base.toList ++ chain).flatMap(_.files))
      }
      latest
    }
  }

  /** Latest-version view minus tombstones: the current [[snapshot]].
    * Below the bound, a `LocalRelation` over the held rows, made on
    * each call; the snapshot does not keep it. */
  def current(): DataFrame = {
    val snap = snapshot()
    if (snap.isHeld) snap.held.frame(spark) else snap.view
  }

  def documentCount(): Long = snapshot().count

  /** Driver-sized BY CONTRACT: mirrors the reference API
    * (collection.go:326 returns `[]uint64` in memory). At scale use the
    * DataFrame surface instead — `current().select("id")` — which never
    * collects. */
  def getAllIds(): Seq[Long] = {
    val snap = snapshot()
    if (snap.isHeld) snap.held.allIds
    else snap.view.select(col("id")).orderBy(col("id")).collect().map(_.getLong(0)).toSeq
  }

  /** The reference's single search endpoint (collection.go:569):
    * dispatches on (k, radius, precision) exactly like the Go code.
    * A k-NN or radius search is exact over the filtered rows; at
    * precision="medium" it is the same search over the rows the LSH
    * probe keeps ([[probe]]). */
  def search(args: SearchArgs): DataFrame = {
    val snap = snapshot()
    if (snap.isHeld) heldSearch(snap, args, probe(args))._1
    else search(filteredView(snap, args), args, probe(args))
  }

  private def filter(args: SearchArgs): Option[Column] =
    args.filter.map(FilterCompiler.compileJson(_, col("metadata")))

  private def filteredView(snap: Snapshot, args: SearchArgs): DataFrame =
    filter(args).fold(snap.view)(snap.view.filter)

  /** The probe of a precision="medium" k-NN or radius search: the
    * rows in any of the query's forest buckets, with the keys computed
    * once, locally, from the request vector. k-NN probes one key per
    * table; a one-table radius search probes the bucket and its Hamming-1
    * neighbors, like the reference's index.search with a radius
    * (collection.go:690). None for exact searches and listings. */
  private def probe(args: SearchArgs): Option[Column] = args.vector match {
    case Some(q) if args.precision != "exact" && (args.k != 0 || args.radius != 0.0) =>
      import options._
      val (keys, perTable) =
        if (args.radius != 0.0 && lshTables == 1)
          (AnnLsh.hammingProbeKeysLocal(q.toArray, lshPlanes, dimensionCount), lshPlanes + 1)
        else
          (AnnLsh.forestProbeKeysLocal(q.toArray, lshTables, lshPlanes, dimensionCount, 1), 1)
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

  /** [[search]] over the held rows, dispatched as the Spark plan is;
    * also returns the filtered and the probed row counts. */
  private def heldSearch(snap: Snapshot, args: SearchArgs,
                         hit: Option[Column]): (DataFrame, Long, Long) = {
    def dist(q: Seq[Double]) = Knn.distCol(options.distanceMethod, col("vector"), typedlit(q))
    snap.held.search(spark, filter(args), hit, (args.vector, args.k, args.radius) match {
      case (None, _, _) | (_, 0, 0.0) => HeldView.Listing(args.limit, args.offset)
      case (Some(q), k, r) =>
        if (r == 0.0) HeldView.Nearest(dist(q), k) else HeldView.Within(dist(q), r)
    })
  }

  /** As [[search]], also reporting PercentSearched
    * (collection.go:569-712): exhaustive modes touch the whole filtered
    * corpus (100%); a precision="medium" k-NN or radius search touches
    * only the rows its [[probe]] keeps, and the fraction is their share
    * of the filtered corpus. */
  def searchWithStats(args: SearchArgs): SearchResults = {
    // results and percentage from one snapshot and one probe
    val snap = snapshot()
    val hit = probe(args)
    val probed = hit.isDefined && (args.radius > 0.0 || (args.radius == 0.0 && args.k > 0))
    def whole = if (snap.count == 0L) 0.0 else 100.0
    if (snap.isHeld) {
      val (results, filtered, kept) = heldSearch(snap, args, hit)
      SearchResults(results, if (probed) AnnLsh.percent(filtered, kept) else whole)
    } else {
      val filtered = filteredView(snap, args)
      val results = search(filtered, args, hit)
      SearchResults(results,
        if (probed) described("search")(AnnLsh.percentProbed(filtered, hit.get)) else whole)
    }
  }

  /** GetDocument (collection.go:463). */
  def getDocument(id: Long): Option[(Seq[Double], String)] = document(snapshot(), id)

  /** The vector and metadata of `id` in `snap`. */
  private def document(snap: Snapshot, id: Long): Option[(Seq[Double], String)] =
    if (snap.isHeld) snap.held.get(id)
    else snap.view.filter(col("id") === id)
      .select(col("vector"), col("metadata"))
      .collect().headOption
      .map(r => (r.getSeq[Double](0), r.getString(1)))

  /** computeAverageDistance (collection.go:348): mean pairwise
    * distance over a deterministic sample (the `sampleIds` lowest ids
    * — engine-reproducible, unlike the reference's RNG sampling). */
  def averageDistance(sampleIds: Int): Double = described("averageDistance") {
    val snap = snapshot()
    val sample = (if (snap.isHeld) snap.held.frame(spark, sampleIds)
                  else snap.view.orderBy(col("id")).limit(sampleIds))
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
    val mp = new Path(outFile)
    val hfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // write-then-rename: a mid-dump failure must not destroy the
    // previous backup along with the new one
    val tmp = new Path(outFile + ".tmp")
    // a plain Writer, not a PrintWriter, which swallows IO errors and
    // would leave a silently truncated backup on a full disk
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

  /** The generation numbers whose base commits are in the log, oldest
    * first — the observable face of [[compact]]'s retention window (the
    * serving façade surfaces it in stats so an operator can see how
    * many superseded generations a reader's pre-compact plan can
    * still resolve). Empty before the first compaction. */
  def generations: Seq[Int] = commits().flatMap(commitAt(_).generation)

  /** Compact the versioned log: collapse to the current view and drop
    * superseded rows and tombstones. The log's read cost is O(total
    * mutations) until compacted; run this periodically like any
    * LSM/merge-on-read store.
    *
    * The compacted view is written to a NEW generation dir `path.genN`
    * and becomes current only when its base commit is published, so a
    * crash at any step leaves the previous generation current.
    * Superseded data is deleted strictly after the commit. Two
    * instances compacting one path at once are not guarded against:
    * both would write the same `path.genN`.
    *
    * `retainGenerations` keeps the newest N superseded generations on
    * disk (default 1): a reader whose plan resolved to the PREVIOUS
    * generation before this compact started can still execute it
    * afterwards — the filesystem analogue of the RWMutex that lets
    * the reference serve reads across a rewrite (collection.go;
    * VERDICT r12 #8). Older generations — including, eventually, the
    * original bare-path log, which counts as the oldest generation —
    * fall out of the window on subsequent compactions, and the
    * commits older than the oldest retained base go with them. Pass 0
    * to reclaim everything immediately (no concurrent readers). */
  def compact(retainGenerations: Int = 1): Unit = writeLock.synchronized(described("compact") {
    require(retainGenerations >= 0,
      s"retainGenerations must be >= 0, got $retainGenerations")
    val gen = compacted()
    val f = fs()
    val older = generationDirs(f, path).filter(_._1 < gen)
    val (retired, kept) = older.splitAt(older.size - retainGenerations)
    retired.foreach { case (_, d) => f.delete(d, true) }
    val oldest = kept.headOption.fold(gen)(_._1)
    val log = commits()
    if (oldest > 0) log.find(commitAt(_).generation.contains(oldest)).foreach(base =>
      log.takeWhile(_ < base).foreach(v => f.delete(commitPath(v), false)))
  })

  /** Writes the current view as the next generation and publishes its
    * base commit; if another writer took the number, the next attempt
    * compacts again (and overwrites the directory). The generation is
    * written from the snapshot's plan over its files on both paths, so
    * no write task carries the held rows. Returns the generation. */
  @annotation.tailrec
  private def compacted(): Int = {
    val snap = snapshot()
    val (v, gen) = (snap.head + 1, snap.generation + 1)
    val dir = generationName(name, gen)
    // mode=overwrite clears any partial dir a crashed attempt left
    snap.plan.select(col("id"), col("vector"), col("metadata"),
        lit(v).as("version"), lit(false).as("deleted"))
      .write.mode("overwrite").parquet(resolve(dir).toString)
    if (publish(Commit(v, Some(gen), parquetIn(dir)))) gen else compacted()
  }
}

object Collection {

  /** The bound, in bytes, below which a snapshot's view is held on
    * the driver ([[HeldView]]) instead of checkpointed. It is compared
    * with the summed length of the parquet files the snapshot's
    * commits name, times 64 / quantization: parquet stores a float64
    * vector about as large as the driver holds it, and dictionary-
    * encodes a vector quantized to q < 32 bits in about q/64 of that
    * (a 32-bit vector, stored as plain doubles, is over-counted, which
    * errs toward checkpointing). A file length is read from file
    * status, so checking the bound runs no job.
    *
    * 32 MiB is where the held path stops winning every kind of read.
    * Measured with 64-d angular records (4-core VM, local[4], 3 GB
    * heap; read p50 held vs checkpointed): at 55k records (27.6 MB of
    * float64 parquet, 36 MB held on the heap) a filtered k-NN, whose
    * JSON predicate the driver evaluates on one thread, took 166 vs
    * 179 ms and every other read won by 2-10x; at 110k (55 MB, 72 MB
    * held) it took 382 vs 240 ms, while exact k-NN (214 vs 270),
    * medium k-NN (111 vs 424), a listing (25 vs 457) and `getDocument`
    * (0.3 vs 118) still won. 110k records quantized to 8 bits wrote
    * 8.2 MB of parquet and held the same 71 MB, hence the scaling. The
    * held rows cost about 1.3 times their float64 parquet bytes of
    * heap (the 20k-record serving collection: 10 MB of parquet). */
  private[graft] val HeldBytes: Long = 32L << 20

  /** The fixed five-column schema of every log file. */
  private val LogSchema = StructType(Seq(
    StructField("id", LongType), StructField("vector", ArrayType(DoubleType)),
    StructField("metadata", StringType), StructField("version", LongType),
    StructField("deleted", BooleanType)))

  /** One commit of the log: the parquet files a write added, relative
    * to the directory holding the collection's path. A base commit
    * ([[Collection#compact]], or the adoption of an older log) names a
    * whole generation: `generation` is set, and readers start from the
    * newest one. */
  private[graft] final case class Commit(version: Long, generation: Option[Int],
                                         files: Seq[String]) {
    def json: String =
      s"""{"version": $version${generation.fold("")(g => s""", "generation": $g""")}, """ +
        s""""files": [${files.map(q).mkString(", ")}]}"""
  }

  private[graft] object Commit {
    def parse(json: String): Commit = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      Commit(node.get("version").asLong, Option(node.get("generation")).map(_.asInt),
        node.get("files").elements().asScala.map(_.asText).toSeq)
    }
  }

  /** The data directory of generation `n`: `path` itself for 0. */
  private def generationName(name: String, n: Int) = if (n == 0) name else s"$name.gen$n"

  /** The generation directories of `path` on disk, oldest first:
    * (0, `path`) if it exists, then each `path.genN`. */
  private def generationDirs(fs: FileSystem, path: String): Seq[(Int, Path)] = {
    val p = new Path(path)
    val prefix = p.getName + ".gen"
    if (p.getParent == null || !fs.exists(p.getParent)) Nil
    else fs.listStatus(p.getParent).toSeq.map(_.getPath).flatMap { d =>
      (if (d.getName == p.getName) Some(0)
       else Some(d.getName).filter(_.startsWith(prefix)).flatMap(_.stripPrefix(prefix).toIntOption))
        .map(_ -> d)
    }.sortBy(_._1)
  }

  private def metaPath(path: String) = s"$path.options.json"

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
       | "lshTables": ${options.lshTables}}"""
      .stripMargin.replace("\n", "")

  /** NewCollection (collection.go:224): persists the options next to
    * the log (the reference stores them in the spanfile header) so a
    * later [[open]] needs only the path. */
  def create(spark: SparkSession, options: CollectionOptions, path: String): Collection =
    create(spark, options, path, HeldBytes)

  /** [[create]] with the held-snapshot bound `heldBytes`. */
  private[graft] def create(spark: SparkSession, options: CollectionOptions, path: String,
                            heldBytes: Long): Collection = {
    val json = optionsJson(options)
    val mp = new Path(metaPath(path))
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    out.write(json.getBytes("UTF-8"))
    out.close()
    new Collection(spark, options, path, heldBytes)
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
    val mp = new Path(dumpFile)
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
    // the header is parsed on the driver, by the sidecar's parser,
    // from the dump's own filesystem (not the session default)
    val c = create(spark, parseOptionsJson(header), path)
    if (hasRecordLines) {
      val recs = spark.read.json(dumpFile)
      // record lines exist, so a missing `id` column means they are
      // corrupt: fail instead of restoring an empty collection (only a
      // header-only dump, of an empty collection, skips the load)
      require(recs.columns.contains("id"),
        s"$dumpFile has record lines but no 'id' field — corrupt dump?")
      c.addDocuments(recs.filter(col("id").isNotNull).select(col("id").cast("long"),
        col("vector").cast("array<double>"), col("metadata").cast("string")))
    }
    c
  }

  /** The single parser for the options JSON — the `.options.json`
    * sidecar ([[open]]) and a dump's header line ([[importDumpFile]])
    * are the SAME format and must never drift (review r19: two
    * independent parsers had different tolerances). Required fields
    * fail with a named error (never a bare NPE); numeric fields must
    * BE numbers (Jackson's asInt would coerce garbage to 0);
    * lshTables defaults to 1 for pre-forest-era files, and an
    * `lshProbes` other than 1 (a removed option) fails. */
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
    // multiprobe k-NN is no longer an option: a file that asks for it
    // fails by name instead of silently searching differently
    require(num("lshProbes", Some(1)) == 1,
      "options json field 'lshProbes' must be 1: multiprobe search is not supported")
    CollectionOptions(
      str("name"), num("dimensionCount"),
      if (str("distanceMethod") == "euclidean") Knn.Euclidean
      else Knn.Cosine,
      num("quantization"), num("lshPlanes"), num("lshTables", Some(1)))
  }

  /** Reopen an existing collection from its persisted options —
    * through [[parseOptionsJson]], the same parser a dump header
    * goes through (one format, one parser; Jackson reads the older
    * multi-line sidecars as readily as the single-line form, and a
    * driver-side read of the sidecar's OWN filesystem replaces a
    * whole Spark json job for a one-object file). Older collections
    * predate lshTables; absent -> single-table (the parser's
    * default). */
  def open(spark: SparkSession, path: String): Collection = open(spark, path, HeldBytes)

  /** [[open]] with the held-snapshot bound `heldBytes`. */
  private[graft] def open(spark: SparkSession, path: String, heldBytes: Long): Collection =
    new Collection(spark, readOptions(spark, new Path(metaPath(path))), path, heldBytes)

  /** Driver-side read of an `.options.json` sidecar on its own
    * filesystem, through [[parseOptionsJson]]. */
  private def readOptions(spark: SparkSession, mp: Path): CollectionOptions =
    parseOptionsJson(readText(mp.getFileSystem(spark.sparkContext.hadoopConfiguration), mp))

  /** A small file's whole content, as UTF-8. */
  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
  }

  private def q(s: String): String =
    "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""

  // ---- collection registry (the reference server's collection
  // directory, rest.go:67 handleCollections / :176 DELETE) ----

  /** All collections under `rootDir`, by their persisted options
    * files (read like [[open]] reads them, no Spark job). Returns
    * (name, path) pairs, name-sorted. */
  def list(spark: SparkSession, rootDir: String): Seq[(String, String)] = {
    val root = new Path(rootDir)
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

  /** Drop a collection: delete its data (all generations), its
    * commit log and its options file (rest.go:176 DELETE
    * /api/v1/collections/{name}). */
  def drop(spark: SparkSession, path: String): Boolean = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (generationDirs(fs, path).map(_._2) ++ Seq(new Path(s"$path._log"), new Path(metaPath(path))))
      .map(fs.delete(_, true)).exists(identity)
  }
}
