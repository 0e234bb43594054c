package graft.merge

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Copy-on-write Parquet table with a JSON add/remove commit log — the
  * engine's stand-in for the Delta features the reference leans on
  * (mergeSchema, operationMetrics, txnAppId/txnVersion idempotency;
  * reference M/commons/Task.scala:96,215,264-266 and
  * M/writter/config/WriteStreamConfig.scala:39-47).
  *
  * Layout:
  * {{{
  *   <root>/data/v00042/...         the files commit 42 adds (hive `k=v/` dirs on a partitioned table)
  *   <root>/_graft_log/00042.json   commit 42: files added (with partition values and size),
  *                                  files removed, table schema, metrics, txn
  * }}}
  *
  * One protocol for both layouts, Delta's: a commit never touches a file an
  * earlier version reads. It writes new files under its own version
  * directory and publishes them, with the list of live files it replaces,
  * by one atomic rename of its log record. Readers resolve the live file
  * set from the log ([[read]] lists no directory and starts no Spark job).
  * A partitioned table replaces only the files of the partitions a batch
  * touches (the manual DPP the reference splices into its merge conditions,
  * ref M/utility/Utility.scala:339-348) — on a 100 TB table a CDC batch that
  * touches 3 of 10k partitions rewrites 0.03% of the data; an unpartitioned
  * table is the case where a rewrite replaces every live file. Appends only
  * add files on either layout.
  *
  * CRASH SEMANTICS: every operation is atomic on both layouts. A crash
  * before the log rename leaves files no commit lists — invisible to every
  * reader, cleared when the same version is retried, and deleted by
  * [[vacuum]]. A DataFrame from [[read]] keeps reading the version it was
  * taken at until [[vacuum]] drops that version's files.
  */
object ParquetTable {
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** A table's id: its root as a normalized absolute path. `t`, `./t` and
    * `$PWD/t` name one table and get one id; symlinks are not resolved. */
  private[merge] def idOf(root: String): String =
    Paths.get(root).toAbsolutePath.normalize.toString

  /** The JVM-wide monitor of the table at `root`, keyed by its [[idOf id]].
    * Pipelines (IngestionJob fan-out, shared Journal tables) commit from
    * different driver threads; without one monitor per table, two writers
    * read the same latestVersion and race the commit file and version
    * directory. Handles whose roots spell one directory differently share
    * it. Cross-process writers would need a real lock service — out of
    * scope for a single-driver engine. */
  private[merge] def monitorFor(root: String): Object =
    monitors.computeIfAbsent(idOf(root), _ => new Object)

  /** One data file: its path under the table root, its partition values in
    * Spark's string form (a key is absent when its value is NULL) and its
    * size in bytes. */
  final case class DataFile(path: String, partitionValues: Map[String, String], size: Long) {
    def values(keys: Seq[String]): Seq[String] = keys.map(partitionValues.get(_).orNull)
  }

  private final case class Txn(appId: String, version: Long)

  /** One log record. `schema` is the table schema after this commit, as
    * Spark's JSON. */
  private final case class Commit(version: Long, action: String,
                                  metrics: Map[String, String], txn: Option[Txn],
                                  schema: String, add: Seq[DataFile],
                                  remove: Seq[String])

  private implicit val formats: Formats = DefaultFormats

  /** Spark's view of one table version: the logged files grouped by
    * partition, pruned by the scan's partition filters. */
  private final class LogFileIndex(root: Path, files: Seq[DataFile],
                                   val partitionSchema: StructType,
                                   timeZone: String) extends FileIndex {
    private val partitions: Seq[(InternalRow, Seq[FileStatusWithMetadata])] =
      files.groupBy(_.values(partitionSchema.fieldNames.toSeq)).toSeq.map { case (vals, fs) =>
        InternalRow.fromSeq(partitionSchema.zip(vals).map { case (k, v) =>
          Cast(Literal(v), k.dataType, Some(timeZone)).eval() }) ->
          fs.sortBy(_.path).map(f => FileStatusWithMetadata(new FileStatus(
            f.size, false, 0, 0, 0, new HPath(root.resolve(f.path).toUri))))
      }

    override def rootPaths: Seq[HPath] = Seq(new HPath(root.toUri))
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val keep = partitionFilters.reduceOption(And).map(f =>
        Predicate.createInterpreted(f.transform { case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
        }))
      partitions.collect { case (values, fs) if keep.forall(_.eval(values)) =>
        PartitionDirectory(values, fs) }
    }
    override def inputFiles: Array[String] =
      partitions.flatMap(_._2).map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.size).sum
  }
}

final class ParquetTable(val spark: SparkSession, val root: String,
                         val partitionKeys: Seq[String] = Nil) {
  import ParquetTable._

  private val logDir = s"$root/_graft_log"
  private val monitor = ParquetTable.monitorFor(root)

  /** This table's [[ParquetTable.idOf id]]: the same for every handle on it. */
  private[merge] val id: String = ParquetTable.idOf(root)

  def exists: Boolean = Files.exists(Paths.get(logDir)) && latestVersion >= 0

  /** Serialize a multi-step read-decide-write section (e.g. the SCD writers'
    * exists-check + create/merge) against other writers of this table —
    * without this, two concurrent bootstraps both observe `!exists` and the
    * second CREATE clobbers the first. The commit methods take the same
    * (reentrant) monitor, so nesting is safe. */
  def withLock[T](f: => T): T = monitor.synchronized(f)

  def latestVersion: Long = {
    val p = Paths.get(logDir)
    if (!Files.exists(p)) return -1L
    val stream = Files.list(p)
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong)
      .foldLeft(-1L)(math.max)
    finally stream.close()
  }

  private def commitEntry(version: Long): Option[Commit] = {
    val f = Paths.get(logDir, f"$version%05d.json")
    if (!Files.exists(f)) None
    else Some(Serialization.read[Commit](new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
  }

  // The log folded forward through version `folded`: the live files, the
  // schema, and appId -> highest committed txnVersion. Only versions past
  // `folded` are ever parsed, and a commit this handle writes is folded in
  // from memory — so a long-running stream's per-batch [[seenTxn]] probe is
  // O(1), not O(commits). All access is synchronized on this handle.
  private var folded = -1L
  private var live = Map.empty[String, DataFile]
  private var liveSchema = new StructType()
  private val txnHighWater = scala.collection.mutable.HashMap[String, Long]()

  private def foldThrough(latest: Long): Unit = synchronized {
    while (folded < latest) {
      folded += 1
      commitEntry(folded).foreach(fold)
    }
  }

  private def fold(c: Commit): Unit = {
    live = live -- c.remove ++ c.add.map(f => f.path -> f)
    liveSchema = DataType.fromJson(c.schema).asInstanceOf[StructType]
    c.txn.foreach(t => txnHighWater(t.appId) =
      math.max(txnHighWater.getOrElse(t.appId, Long.MinValue), t.version))
  }

  /** The latest version, its schema and its live files. */
  private def snapshot: (Long, StructType, Seq[DataFile]) = synchronized {
    val v = latestVersion
    foldThrough(v)
    (v, liveSchema, live.values.toSeq)
  }

  /** The files the latest version reads. */
  private[graft] def liveFiles: Seq[DataFile] = snapshot._3

  /** Idempotency check for exactly-once foreachBatch commits: has this app
    * already committed `version` (or anything newer)? Txn versions are
    * monotonically increasing per appId — the Delta idempotent-writer
    * contract the reference relies on — so `version <= high-water` means
    * "already applied, skip the replay". */
  def seenTxn(appId: String, version: Long): Boolean = synchronized {
    foldThrough(latestVersion)
    txnHighWater.get(appId).exists(version <= _)
  }

  def read: DataFrame = {
    val (v, s, files) = snapshot
    require(v >= 0, s"table $root does not exist")
    scan(s, files)
  }

  /** `files` as a DataFrame of `schema` (partition columns last, as Spark
    * reads a hive layout), planned without listing or inference. */
  private def scan(schema: StructType, files: Seq[DataFile]): DataFrame = {
    val partitionSchema = StructType(partitionKeys.map(schema(_)))
    val index = new LogFileIndex(Paths.get(root).toAbsolutePath, files,
      partitionSchema, spark.conf.get("spark.sql.session.timeZone"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      StructType(schema.filterNot(f => partitionKeys.contains(f.name))),
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The live files a write keyed by `batch` replaces: those of the
    * partitions the batch touches (one row per touched partition is
    * collected, not one per batch row) — every file on an unpartitioned
    * table. */
  private def touched(files: Seq[DataFile], batch: DataFrame): Seq[DataFile] =
    if (partitionKeys.isEmpty) files
    else {
      // Spark names a partition by its value cast to string: compare in that form
      val hit = batch.select(partitionKeys.map(col(_).cast(StringType)): _*)
        .distinct().collect().map(_.toSeq).toSet
      files.filter(f => hit(f.values(partitionKeys)))
    }

  /** Create with initial contents (ref create-if-absent probe `checkTable`,
    * M/utility/Utility.scala:361-371). The creating batch's txn is recorded
    * so a checkpoint replay of batch 0 is skipped like any other batch. An
    * existing table is refused: its version 0 would be replaced. */
  def create(df: DataFrame, metrics: Map[String, String] = Map.empty,
             txn: Option[(String, Long)] = None): Unit = monitor.synchronized {
    require(!exists, s"table $root already exists")
    commit(0L, "CREATE", Some(df), new StructType(), Nil, metrics, txn)
  }

  /** Append rows (bookkeeping tables, SCD4 history): adds files, rewrites
    * none. The schema union replaces Delta's `mergeSchema`. */
  def append(df: DataFrame, metrics: Map[String, String] = Map.empty,
             txn: Option[(String, Long)] = None): Unit = monitor.synchronized {
    if (txn.exists { case (a, v) => seenTxn(a, v) }) return
    val (v, s, _) = snapshot
    if (v < 0) create(df, metrics, txn) // keep the batch's idempotency record
    else commit(v + 1, "APPEND", Some(df), s, Nil, metrics, txn)
  }

  /** Append `df` as the rows of `txn`, for a writer whose next commit, on
    * another table, can still crash (SCD4's history before its current
    * table). The first attempt appends. A later attempt under the same txn
    * commits once, replacing the live files the latest commit of that txn
    * added with `df`'s, so the table holds the rows of the attempt that
    * last ran, whatever batch each attempt carried. Rows of that commit
    * that a later commit rewrote (a [[compact]]) are not replaced. A txn
    * version below the app's high-water mark is skipped, as [[append]]
    * skips it. */
  private[merge] def appendAs(df: DataFrame, txn: (String, Long)): Unit = monitor.synchronized {
    val (appId, version) = txn
    val (v, s, files) = snapshot
    val highWater = synchronized(txnHighWater.get(appId))
    if (highWater.exists(version < _)) return
    if (v < 0) return create(df, Map.empty, Some(txn))
    val orphan = if (!highWater.contains(version)) Set.empty[String]
      else (v to 0L by -1).iterator.flatMap(commitEntry)
        .find(_.txn.exists(_.appId == appId)).toSeq.flatMap(_.add.map(_.path)).toSet
    commit(v + 1, "APPEND", Some(df), s, files.filter(f => orphan(f.path)), Map.empty, Some(txn))
  }

  /** Rewrite the partitions `keyedBy` touches (every file on an
    * unpartitioned table): `f` maps their rows to the rows that replace
    * them, committed as one MERGE at the next version. The touched files
    * are collected once, under this table's lock, so the files `f` reads
    * are the files the commit replaces. A seen `txn` returns at once.
    *
    * CONTRACT (standard for hive-partitioned tables): partition-key values
    * are immutable under updates. The manual DPP scans only the partitions
    * named by `keyedBy`'s CURRENT values — an update that moved a row's
    * partition key would leave the stale row in its old partition
    * unscanned (choose stable columns as partition keys). */
  private[merge] def rewrite(keyedBy: DataFrame, txn: Option[(String, Long)],
                             metrics: Map[String, String])(
                             f: DataFrame => DataFrame): Unit = monitor.synchronized {
    if (txn.exists { case (a, v) => seenTxn(a, v) }) return
    val (v, s, files) = snapshot
    require(v >= 0, s"merge target $root does not exist")
    val replaced = touched(files, keyedBy)
    commit(v + 1, "MERGE", Some(f(scan(s, replaced))), s, replaced, metrics, txn)
  }

  /** MERGE the update batch in, replacing the files of the partitions it
    * touches under [[rewrite]]'s partition-key contract. */
  def merge(updates: DataFrame, condition: String,
            matched: Seq[MergeInto.WhenMatched],
            notMatched: Seq[MergeInto.WhenNotMatched],
            txn: Option[(String, Long)] = None,
            metrics: Map[String, String] = Map.empty): Unit =
    rewrite(updates, txn, metrics)(MergeInto(_, updates, condition, matched, notMatched))

  /** `DELETE WHERE condition` — the GDPR-erasure primitive on the COW
    * table. SQL DELETE semantics: rows where the predicate is TRUE go;
    * FALSE and NULL rows stay. Only the partitions that contain matching
    * rows are rewritten (the same manual-DPP bound as [[merge]] — an
    * erasure request touching one user never rewrites the whole table).
    * Records a DELETE commit either way, so [[lastMetrics]] carries the
    * caller's audit numbers and a no-match delete is still a visible,
    * idempotency-checkable operation. */
  def delete(condition: String,
             metrics: Map[String, String] = Map.empty,
             txn: Option[(String, Long)] = None): Unit = monitor.synchronized {
    if (txn.exists { case (a, v) => seenTxn(a, v) }) return
    val (v, s, files) = snapshot
    require(v >= 0, s"delete target $root does not exist")
    val hit = coalesce(expr(condition), lit(false))
    val replaced = touched(files, scan(s, files).filter(hit))
    commit(v + 1, "DELETE", Option.when(replaced.nonEmpty)(scan(s, replaced).filter(!hit)),
      s, replaced, metrics, txn)
  }

  /** Retention cleanup — Delta `VACUUM`: delete every data file that none
    * of the `keepLast` most recent versions reads (the current version is
    * always kept), including the files of crashed, never-committed writes.
    * The commit LOG stays intact — history remains auditable, only the data
    * bytes of expired versions go, which is the actual storage-cost and
    * GDPR point of vacuuming (a deleted row's bytes otherwise live on in
    * old files indefinitely). */
  def vacuum(keepLast: Int = 1): Unit = monitor.synchronized {
    require(keepLast >= 1, "keepLast >= 1")
    val (v, _, files) = snapshot
    val data = Paths.get(root, "data")
    if (v < 0 || !Files.exists(data)) return
    // a file live at version u - 1 is live at u or removed by commit u
    val kept = files.map(_.path).toSet ++
      (v - keepLast + 2 to v).flatMap(u => commitEntry(u).toSeq.flatMap(_.remove))
    val base = Paths.get(root)
    def isKept(p: Path): Boolean = {
      val n = p.getFileName.toString
      // a checksum file `.<name>.crc` follows the file it covers
      val covered = if (n.startsWith(".") && n.endsWith(".crc"))
        p.resolveSibling(n.drop(1).dropRight(4)) else p
      kept(base.relativize(covered).toString)
    }
    val walk = Files.walk(data)
    val paths = try walk.iterator().asScala.toList finally walk.close()
    paths.filter(p => Files.isRegularFile(p) && !isKept(p)).foreach(Files.delete)
    paths.reverse.filter(p => Files.isDirectory(p) && p != data).foreach { d =>
      val l = Files.list(d)
      val empty = try !l.iterator().hasNext finally l.close()
      if (empty) Files.delete(d)
    }
  }

  /** Replace full contents (new snapshot / full overwrite). */
  def overwrite(df: DataFrame, metrics: Map[String, String] = Map.empty,
                txn: Option[(String, Long)] = None): Unit = monitor.synchronized {
    if (txn.exists { case (a, v) => seenTxn(a, v) }) return
    val (v, _, files) = snapshot
    commit(v + 1, "OVERWRITE", Some(df), new StructType(), files, metrics, txn)
  }

  /** Bin-pack compaction — Delta `OPTIMIZE`'s equivalent on the COW table:
    * rewrites the CURRENT contents into ~`targetBytes` files and records a
    * COMPACT commit (files/bytes before and after in the metrics, readable
    * via [[lastMetrics]] like any other operation). Contents are unchanged —
    * only the file layout moves, which is what keeps a streamed-into table
    * scannable: a year of micro-batch appends leaves thousands of KB-sized
    * files whose per-file open/footer cost dominates the scan.
    *
    * Rows are repartitioned BY THE PARTITION KEYS, so each partition value
    * collapses to one task -> one file per partition (the common small-file
    * case: many appends x few partitions). One file per partition value is
    * therefore the floor of the target file count, and the compaction is
    * skipped (no new version) when the current layout is already within
    * that target. */
  def compact(targetBytes: Long = 128L << 20,
              txn: Option[(String, Long)] = None): Unit = monitor.synchronized {
    if (txn.exists { case (a, v) => seenTxn(a, v) }) return
    val (v, s, files) = snapshot
    require(v >= 0, s"compact target $root does not exist")
    require(targetBytes > 0, "targetBytes > 0")
    val bytes = files.map(_.size).sum
    val wantFiles = math.max(files.map(_.values(partitionKeys)).distinct.size.toLong,
      math.max(1L, (bytes + targetBytes - 1) / targetBytes))
    if (files.size <= wantFiles) return // already packed; no empty commit
    val metrics = Map(
      "filesBefore" -> files.size.toString, "bytesBefore" -> bytes.toString,
      "targetFiles" -> wantFiles.toString)
    val packed = scan(s, files).repartition(wantFiles.toInt, partitionKeys.map(col): _*)
    commit(v + 1, "COMPACT", Some(packed), s, files, metrics, txn)
  }

  /** TEST SEAM — crash injection for recovery tests: runs after a commit's
    * DATA files are on disk but before the commit-log record that makes them
    * visible (the exact window a mid-merge crash leaves open). Throwing here
    * simulates that crash; production value is a no-op. */
  private[graft] var onPreCommit: () => Unit = () => ()

  /** Write `df` (if any) as the files of `version` and commit them with the
    * removal of `replaced`. The schema rule serves every operation (Delta's
    * `mergeSchema`): the columns of `base` keep their types, columns new in
    * `df` are appended, and `df` is projected onto the result (NULL where
    * it lacks a column). CREATE and OVERWRITE pass an empty `base`. */
  private def commit(version: Long, action: String, df: Option[DataFrame],
                     base: StructType, replaced: Seq[DataFile],
                     metrics: Map[String, String],
                     txn: Option[(String, Long)]): Unit = {
    val added = df.map(_.schema).getOrElse(new StructType())
      .filterNot(f => base.fieldNames.contains(f.name))
    val schema = StructType((base ++ added).map(_.copy(nullable = true)))
    val dir = f"data/v$version%05d"
    val out = Paths.get(root, dir)
    val files = df.toSeq.flatMap { d =>
      val have = d.columns.toSet
      deleteRecursively(out) // what a crashed attempt at this version left
      d.select(schema.map(f => (if (have(f.name)) col(s"`${f.name.replace("`", "``")}`")
          else lit(null)).cast(f.dataType).as(f.name)): _*)
        .write.mode(SaveMode.ErrorIfExists).partitionBy(partitionKeys: _*)
        .parquet(out.toString)
      val walk = Files.walk(out)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val rel = out.relativize(p)
          val values = rel.iterator().asScala.toSeq.dropRight(1)
            .map(_.toString.split("=", 2))
            .collect { case Array(k, v) if v != ExternalCatalogUtils.DEFAULT_PARTITION_NAME =>
              ExternalCatalogUtils.unescapePathName(k) -> ExternalCatalogUtils.unescapePathName(v) }
          DataFile(s"$dir/$rel", values.toMap, Files.size(p))
        }.toList
      finally walk.close()
    }
    val c = Commit(version, action, metrics, txn.map { case (a, v) => Txn(a, v) },
      schema.json, files, replaced.map(_.path))
    onPreCommit()
    Files.createDirectories(Paths.get(logDir))
    val tmp = Paths.get(logDir, f".$version%05d.json.tmp")
    Files.write(tmp, Serialization.write(c).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(logDir, f"$version%05d.json"),
      StandardCopyOption.ATOMIC_MOVE)
    synchronized { // fold the record just written without re-reading it
      if (folded == version - 1) { fold(c); folded = version }
    }
  }

  /** Last commit's metrics — the `operationMetrics` equivalent the reference
    * reads via `describe history` (ref M/commons/Task.scala:264-266). */
  def lastMetrics: Map[String, String] =
    commitEntry(latestVersion).map(_.metrics).getOrElse(Map.empty)

  private def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }
}
