package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}

import graft.operators.{AnnSearch, Dedup, Sketches, TextSearch}

/** Maintained silver tables for graft's dedup, ANN, text and sketch
  * artifacts. The reference is a WEEKLY batch (its Prefect crons re-run
  * the whole chain every Sunday), so at 100 TB the dominant recurring
  * cost is the re-run, not the first build: every artifact here folds
  * in only what arrived, and every one of them is one of two shapes.
  * Each shape's crash protocol lives in one place, so every artifact of
  * that shape inherits it and its crash specs.
  *
  * | artifact                         | shape          | refresh                     |
  * |----------------------------------|----------------|-----------------------------|
  * | MinHash signatures (s6, d7)      | PerDocArtifact | [[refreshMinhash]]          |
  * | frame fingerprints (m9)          | PerDocArtifact | [[refreshFingerprints]]     |
  * | edit variant keys (d18)          | PerDocArtifact | [[refreshEditIndex]]        |
  * | shingle hashes (d20–d24)         | PerDocArtifact | [[refreshContainmentIndex]] |
  * | SimHash signatures (d25)         | PerDocArtifact | [[refreshSimhashIndex]]     |
  * | semantic signatures + vectors    | PerDocArtifact | [[refreshSemanticLsh]]      |
  * | BM25 postings (+ doclen)         | PerDocArtifact | [[refreshPostings]]         |
  * | IVF list assignments             | PerDocArtifact | [[refreshIvf]]              |
  * | IVF-PQ codes                     | PerDocArtifact | [[refreshIvfPq]]            |
  * | quantile sample (s8)             | PerDocArtifact | [[refreshQuantileSample]]   |
  * | KMV sketch (s7)                  | VersionedFold  | [[refreshKmv]]              |
  * | Bloom bit set (s10)              | VersionedFold  | [[refreshBloom]]            |
  * | HLL registers (s12)              | VersionedFold  | [[refreshHll]]              |
  * | Count-Min counters (s9, s14)     | VersionedFold  | [[refreshCms]] (batch id)   |
  * | drift ledger (s15, s17, s18)     | VersionedFold  | [[refreshDriftLedger]] (batch id) |
  * | gold MAX rollup (g3)             | VersionedFold  | [[refreshMaxRollup]] (batch id)   |
  * | component map (d19)              | VersionedFold  | [[refreshComponents]] (batch id)  |
  * | SCD2 current segment (g6, g7)    | VersionedFold  | [[refreshScd2]] (batch id)  |
  *
  *  - '''PerDocArtifact''': the table stores a pure per-document
  *    function of its input, so a refresh that derives rows for unseen
  *    ids and appends them is row-identical to a from-scratch build, and
  *    an at-least-once replay finds no unseen id and appends zero rows.
  *  - '''VersionedFold''': the table is a merge of every batch so far,
  *    so each fold writes a whole new version — stage it under a
  *    hidden `_tmp_` name, one atomic rename commits, superseded
  *    versions retire after it, and readers take the highest. Folds
  *    whose merge is not replay-safe name the version after the
  *    micro-batch id and skip ids already committed.
  *
  * Two shared pieces sit on top: [[pairBatch]], the intent-guarded
  * batch of the seven streaming pair emitters, and
  * [[foreachBatchStream]], the one streaming face, whose checkpoint
  * lives under the artifact path.
  */
object SilverIndex {

  /** What a refresh did: rows appended this run / total index rows. */
  final case class Refresh(appended: Long, total: Long)

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** True iff `path` holds at least one DATA file — the fs walk alone,
    * no parquet footer read. An append of an EMPTY frame (a quiet
    * streaming micro-batch, a refresh with nothing new on a fresh path)
    * creates the directory with only _SUCCESS in it — and
    * `spark.read.parquet` on that dir fails schema inference, which
    * would wedge every later refresh. "Directory without data files"
    * must mean "no index yet", not an error. */
  private def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = fsOf(spark, path)
    // manual recursion so HIDDEN SUBTREES are skipped whole — a flat
    // recursive listing would see e.g. _checkpoint/offsets/0 (the
    // streaming checkpoint under the index path) as a data file, because
    // only its own name is visible, not its hidden parent's
    def hasData(dir: Path): Boolean =
      fs.listStatus(dir).exists { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) false
        else if (st.isFile) true
        else hasData(st.getPath)
      }
    fs.exists(p) && hasData(p)
  }

  private def readIfData(spark: SparkSession, path: String)
      : Option[DataFrame] =
    if (hasDataFiles(spark, path)) Some(spark.read.parquet(path)) else None

  // ------------------------------------------------------ row-count sidecar

  /** (data files, total data bytes, max modification time) under `dir`
    * — the freshness fingerprint for the row-count sidecar and the
    * frozen-quantizer caches. The mtime component matters for
    * DELETE-AND-REBUILD: a retrained quantizer over the same nlist/ksub
    * easily reproduces the same file count AND byte count (tiny tables,
    * identical schema and row count), which made a (files, bytes)
    * fingerprint serve STALE centroids after a rebuild
    * (SilverIndexSpec's maintainIvfPq case caught it). Hidden subtrees
    * skipped whole, as [[readIfData]]. */
  private def dataStats(fs: FileSystem, dir: Path): (Long, Long, Long) = {
    def walk(d: Path): (Long, Long, Long) =
      fs.listStatus(d).foldLeft((0L, 0L, 0L)) { case ((n, b, t), st) =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) (n, b, t)
        else if (st.isFile)
          (n + 1, b + st.getLen, math.max(t, st.getModificationTime))
        else {
          val (cn, cb, ct) = walk(st.getPath)
          (n + cn, b + cb, math.max(t, ct))
        }
      }
    if (fs.exists(dir)) walk(dir) else (0L, 0L, 0L)
  }

  /** The fingerprint string shared by sidecars and caches. */
  private def fingerprint(fs: FileSystem, dir: String): String = {
    val (files, bytes, mtime) = dataStats(fs, new Path(dir))
    s"$files:$bytes:$mtime"
  }

  /** A one-line JSON sidecar as key → value (quotes stripped); None when
    * it is missing or unreadable, so a torn write reads as stale. */
  private def readSidecar(fs: FileSystem, f: Path)
      : Option[Map[String, String]] =
    if (!fs.exists(f)) None
    else
      try {
        val in = fs.open(f)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        Some(txt.stripPrefix("{").stripSuffix("}").split(",").map { p =>
          val Array(k, v) = p.split(":", 2)
          k.trim.stripPrefix("\"").stripSuffix("\"") ->
            v.trim.stripPrefix("\"").stripSuffix("\"")
        }.toMap)
      } catch { case scala.util.control.NonFatal(_) => None }

  private def writeSidecar(fs: FileSystem, f: Path, json: String): Unit = {
    val out = fs.create(f, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private def metaFile(dir: String) = new Path(dir, "_rowmeta.json")

  /** The sidecar's row count, IF its fingerprint matches the current
    * data listing — a stale sidecar (crash between append and sidecar
    * write, out-of-band writes, compaction) silently falls back to a
    * real count. The sidecar is why a refresh is a metadata operation:
    * without it every refresh pays two full-table count jobs, and at
    * 10¹¹ indexed rows even a footer-statistics count is a distributed
    * job over every file. */
  private def readMetaRows(fs: FileSystem, dir: String): Option[Long] =
    readSidecar(fs, metaFile(dir))
      .filter(_.get("fp").contains(fingerprint(fs, dir)))
      .flatMap(_.get("rows").flatMap(_.toLongOption))

  private def writeMetaRows(fs: FileSystem, dir: String, rows: Long): Unit =
    writeSidecar(fs, metaFile(dir),
      s"""{"rows":$rows,"fp":"${fingerprint(fs, dir)}"}""")

  /** Rows in the existing table: the validated sidecar when fresh, a
    * count otherwise. */
  private def existingRows(spark: SparkSession, dir: String,
      existing: Option[DataFrame]): Long = existing.fold(0L) { df =>
    readMetaRows(fsOf(spark, dir), dir).getOrElse(df.count())
  }

  /** Append `frame` to `dir` as parquet, counting the appended rows with
    * an [[org.apache.spark.sql.Observation]] on the write job itself (no
    * separate count job), then refresh the sidecar with before+appended.
    * `partitionCols` adds `partitionBy`; `shape` lets callers inject the
    * co-locating repartition between the observe point and the write. */
  private def appendCounted(frame: DataFrame, dir: String,
      partitionCols: Seq[String], before: Long,
      shape: DataFrame => DataFrame = identity): Refresh = {
    val obs = org.apache.spark.sql.Observation()
    val observed = shape(frame.observe(obs, count(lit(1)).as("n")))
    val w = observed.write.mode("append")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(dir)
    val appended = obs.get("n").asInstanceOf[Long]
    val total = before + appended
    writeMetaRows(fsOf(frame.sparkSession, dir), dir, total)
    Refresh(appended, total)
  }

  /** The one-row stamp probe: an append-only table keeps its config
    * columns uniform, so ONE stored row (CollectLimit — a single row
    * group) exposes a build that differs from the request; a NULL stamp
    * passes. A full-column aggregate here would scan the whole table on
    * every call (~0.5 GB of signatures at 1M docs × 64 hashes). */
  private def requireStamp(ix: DataFrame, path: String, what: String,
      stamp: Column, label: String, want: Any, verb: String): Unit =
    ix.select(stamp).limit(1).collect().headOption.foreach { r =>
      require(r.isNullAt(0) || r.get(0) == want,
        s"$what at $path was built at $label=${r.get(0)}, $verb " +
          s"$label=$want — rebuild, don't mix")
    }

  // ------------------------------------------------------ PerDocArtifact

  /** PerDocArtifact — the shape of every table that stores a pure
    * per-document function of its input. One refresh reads the table if
    * it has data ([[existing]]), runs the one-row stamp probe
    * ([[probe]]), anti-joins the input on the id ([[unseen]]), and
    * appends what it derives from the unseen rows ([[append]] — the row
    * count rides the write job, the total rides the sidecar, so a
    * refresh pays zero count jobs). Because each stored row depends on
    * its own document only, the union of appends is row-identical to a
    * from-scratch build, and an at-least-once replay appends zero rows.
    *
    * Append-only: an edited document means rebuild (or version the
    * path); subjects leave through the erase functions. Rows the
    * operator excludes by construction (empty shingle sets, duplicate
    * ids) are re-derived and re-excluded on every refresh — the
    * anti-join only skips what the table RETAINS, a cost bounded by the
    * excluded population. `oneRowPerId` tables skip the distinct over
    * the stored ids before the anti-join. */
  private final class PerDocArtifact(spark: SparkSession, path: String,
      storedId: String = "doc", oneRowPerId: Boolean = false) {
    val existing: Option[DataFrame] = readIfData(spark, path)

    def probe(what: String, stamp: Column, label: String, want: Any): Unit =
      existing.foreach(
        requireStamp(_, path, what, stamp, label, want, "refresh requested"))

    /** The rows of `src` whose `idCol` is not stored yet. */
    def unseen(src: DataFrame, idCol: String): DataFrame =
      existing.fold(src) { ix =>
        val ids = ix.select(col(storedId).as(idCol))
        src.join(if (oneRowPerId) ids else ids.distinct(), Seq(idCol),
          "left_anti")
      }

    def append(rows: DataFrame, partitionCols: Seq[String] = Nil,
        shape: DataFrame => DataFrame = identity): Refresh =
      appendCounted(rows, path, partitionCols,
        existingRows(spark, path, existing), shape)
  }

  // ------------------------------------------------------- VersionedFold

  /** VersionedFold — the shape of every artifact that is a MERGE of all
    * batches so far (a sketch, a ledger, a rollup, a component map, the
    * SCD2 current segment). An in-place overwrite would delete the
    * directory before the job commits, so a crash mid-write would lose
    * the ONLY copy of the accumulated state (raw inputs are never
    * stored) and every later read would be silently wrong. Instead each
    * fold:
    *
    *  1. lists the committed `v<n>` directories under `root`;
    *  2. applies the batch-id replay guard, when the fold has one
    *     ([[foldBatch]]);
    *  3. stages the next version under a hidden `_tmp_` name — a crash
    *     here leaves an orphan the replay overwrites;
    *  4. renames it to `v<n>` — the commit point. Rename failures
    *     REPORT false rather than throw (e.g. a destination left by a
    *     duplicate writer), so a failed rename raises before step 5,
    *     which would otherwise delete the only committed copy;
    *  5. retires superseded versions — best effort (single-writer
    *     foreachBatch): a crash here leaves stale versions that
    *     [[latest]] skips and the next commit retires.
    *
    * [[latest]] is the one reader: the highest committed version. */
  private final class VersionedFold(spark: SparkSession, root: String,
      what: String) {
    private val fs = fsOf(spark, root)
    private val committed: Seq[Long] = {
      val p = new Path(root)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
        case n if n.startsWith("v") && n.drop(1).forall(_.isDigit) =>
          n.drop(1).toLong
      }
    }
    /** The highest committed version, -1 when none. */
    val last: Long = if (committed.isEmpty) -1L else committed.max

    /** The highest committed version (or its `sub` directory), if any. */
    def stored(sub: String = ""): Option[DataFrame] =
      if (last < 0) None else Some(spark.read.parquet(s"$root/v$last$sub"))

    def latest(sub: String = ""): DataFrame = {
      require(last >= 0, s"no committed $what under $root")
      spark.read.parquet(s"$root/v$last$sub")
    }

    /** A fold whose merge absorbs replays by its algebra (KMV truncated
      * union, Bloom set union, HLL register max): versions are a plain
      * sequence that only orders the copies. The next state is
      * materialized before the commit (its lazy plan reads the version
      * being replaced), and an empty fold commits nothing — an empty
      * `v0` has no parquet schema to read back and would wedge every
      * later fold. */
    def foldNext(merge: Option[DataFrame] => DataFrame): Refresh = {
      val next = merge(stored()).localCheckpoint(true)
      val n = next.count()
      if (n == 0) Refresh(0, 0)
      else {
        commit(last + 1)(next.write.mode("overwrite").parquet(_))
        Refresh(n, n)
      }
    }

    /** A fold guarded by the foreachBatch micro-batch id: the version IS
      * the batch id, so one rename commits the state AND the transaction
      * record together (a separate marker file would leave a window
      * where one is durable without the other), and a batch id at or
      * below the last committed one is a no-op. foreachBatch delivers
      * ids monotonically, so one version number is the whole
      * transaction log. `stage` runs only for a new id and returns the
      * writer of the staged version, or None to commit nothing. */
    def foldBatch(batchId: Long)(stage: => Option[String => Unit]): Refresh =
      if (batchId <= last) Refresh(0, last)
      else stage.fold(Refresh(0, last)) { write =>
        commit(batchId)(write)
        Refresh(batchId, batchId)
      }

    private def commit(version: Long)(write: String => Unit): Unit = {
      val (tmp, dst) = (s"$root/_tmp_v$version", s"$root/v$version")
      write(tmp)
      require(fs.rename(new Path(tmp), new Path(dst)),
        s"$what commit rename failed: $tmp -> $dst (old versions kept)")
      committed.foreach(v => fs.delete(new Path(s"$root/v$v"), true))
    }
  }

  /** The staged writer of a [[VersionedFold.foldBatch]] whose state is
    * one frame — materialized first, since its plan reads the version
    * being replaced. */
  private def staged(next: DataFrame): Option[String => Unit] = {
    val out = next.localCheckpoint(true)
    Some(out.write.mode("overwrite").parquet(_))
  }

  // ----------------------------------------------- streaming + pair batch

  /** The one streaming face: every micro-batch of `rows` runs `body`
    * with its batch id, and the checkpoint lives under `home` (the
    * artifact path) so the two travel together. */
  private def foreachBatchStream(rows: DataFrame, home: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        body(batch.toDF(), batchId)
      }
      .option("checkpointLocation", s"$home/_checkpoint")
      .start()

  /** Continuous index maintenance: fold every micro-batch of a STREAMING
    * document frame into the index at `path` through `refresh` — the
    * same exact batch refreshes, driven by Structured Streaming's
    * `foreachBatch`. foreachBatch is at-least-once (a batch can replay
    * after a failure between the append and the checkpoint commit); a
    * PerDocArtifact's id anti-join and a VersionedFold's merge algebra
    * or batch-id guard make the replay a no-op — at-least-once
    * delivery, exactly-once index (StreamingIndexSpec forces re-runs).
    *
    * This is the "weekly cron → continuous" upgrade of the reference's
    * batch cadence: the index is always as fresh as the last
    * micro-batch, and each batch costs ∝ its own new docs, never a
    * corpus recompute. */
  def streamingRefresh(docs: DataFrame, path: String)(
      refresh: DataFrame => Refresh)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(docs, path)((batch, _) => refresh(batch))

  /** The TRANSACTION-INTENT read-or-derive step of [[pairBatch]]: the
    * batch's new-id set, persisted before any table mutates. The two
    * mutations of a pair batch (artifact append, pair write) are not
    * atomic together — a crash between them would otherwise lose the
    * batch's pairs forever, because a replay's anti-join against the
    * ALREADY-APPENDED rows finds nothing new. The stored intent makes
    * the replay reuse the original new-id set instead of re-deriving it
    * against mutated state. One tiny file per batch, kept (deleting it
    * would reopen the same window).
    *
    * The guard is on COMMITTED data files, not bare existence: the dir
    * exists as soon as a write STARTS, and fs.exists would send the
    * replay into a failing (or empty) read over leftover debris. The
    * intent itself commits by STAGE-THEN-RENAME (one file via
    * coalesce(1), staged under `_tmp_`, one atomic dir rename): a direct
    * multi-file write commits part files one rename at a time, so a
    * crash MID-job-commit could leave a readable but INCOMPLETE id set
    * and the replay would silently drop the missing ids' rows and pairs
    * forever. Any pre-rename crash leaves no committed data files and
    * the replay re-derives (nothing has mutated before the intent
    * commit). `ids` must be the batch's distinct ids as a `doc` column. */
  private def intentNewIds(spark: SparkSession, sigPath: String,
      batchId: Long, ids: DataFrame): DataFrame = {
    val intentDir = s"$sigPath/_intent/batch$batchId"
    if (hasDataFiles(spark, intentDir)) spark.read.parquet(intentDir)
    else {
      val fresh = readIfData(spark, sigPath)
        .fold(ids)(ix =>
          ids.join(ix.select("doc"), Seq("doc"), "left_anti"))
        .localCheckpoint(true)
      val fs = fsOf(spark, sigPath)
      val tmp = s"$sigPath/_intent/_tmp_batch$batchId"
      fresh.coalesce(1).write.mode("overwrite").parquet(tmp)
      val dst = new Path(intentDir)
      if (fs.exists(dst)) fs.delete(dst, true) // pre-fix debris
      require(fs.rename(new Path(tmp), dst),
        s"intent commit rename failed: $tmp -> $intentDir")
      fresh
    }
  }

  /** The intent-guarded pair batch — the foreachBatch body of every
    * streaming pair emitter: the batch's new ids ([[intentNewIds]]),
    * then `refresh` of the artifact at `sigPath` over the batch
    * pre-filtered to those ids (the refresh keeps its own anti-join as
    * the append's replay guard), then `delta` — the pairs touching a
    * new id, computed against the post-append artifact — into a
    * per-batch OVERWRITE partition. Each pair lands exactly once, in
    * the batch where its later-arriving member arrives, so the
    * accumulated pairs equal a from-scratch pass over the same corpus
    * (the s6 contract); a replay reuses the stored intent and the same
    * post-append artifact, so it re-emits the identical pairs into the
    * same partition instead of duplicating them. */
  private def pairBatch(batch: DataFrame, batchId: Long, idCol: String,
      sigPath: String, pairsPath: String)(refresh: DataFrame => Refresh)(
      delta: DataFrame => DataFrame): Unit = {
    val newIds = intentNewIds(batch.sparkSession, sigPath, batchId,
      batch.select(col(idCol).as("doc")).distinct())
    refresh(batch.join(newIds.withColumnRenamed("doc", idCol), Seq(idCol),
      "left_semi"))
    delta(newIds).write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")
  }

  // ---------------------------------------------------------------- MinHash

  /** Bring the signature table at `path` up to date with `docs`:
    * signatures are computed ONLY for doc ids not yet indexed, and
    * appended. Returns counts; read the index back with [[minhashIndex]].
    * Parameters (`n`, `numHashes`) must match the original build — the
    * stored signature length is authoritative downstream, so a mismatch
    * is caught by the width probe here rather than silently mixed. */
  def refreshMinhash(docs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, path: String): Refresh = {
    val ix = new PerDocArtifact(docs.sparkSession, path, oneRowPerId = true)
    ix.probe("MinHash index", size(col("sig")), "signature width",
      numHashes)
    ix.append(Dedup.minhashSets(ix.unseen(docs, idCol), idCol, textCol, n,
      numHashes))
  }

  /** The signature table as [[graft.operators.Dedup.minhashPairsFromSets]]
    * consumes it: (doc, sh, sig). */
  def minhashIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Near-dup pairs from the PERSISTED signatures — the weekly-run shape:
    * zero shingle/signature recompute, banding + exact verification only. */
  def minhashPairs(spark: SparkSession, path: String, rowsPerBand: Int,
      theta: Double): DataFrame =
    Dedup.minhashPairsFromSets(minhashIndex(spark, path), rowsPerBand, theta)

  /** Streaming NEAR-DUP detection: every micro-batch appends its
    * genuinely-new docs' signatures to the table at `sigPath` and emits
    * the near-dup pairs INVOLVING those new docs against the full
    * post-append signature table ([[graft.operators.Dedup
    * .minhashPairsDelta]]) into `pairsPath` — the accumulated pairs
    * table is row-identical to a from-scratch batch [[graft.operators
    * .Dedup.minhashLshPairs]] over the same corpus (the s6 gate
    * contract, [[pairBatch]]). */
  def streamingNearDupPairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int, numHashes: Int, rowsPerBand: Int,
      theta: Double, sigPath: String, pairsPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(docs, sigPath)(nearDupBatch(_, _, idCol, textCol, n,
      numHashes, rowsPerBand, theta, sigPath, pairsPath))

  /** One micro-batch of [[streamingNearDupPairs]] — exposed so a spec
    * can drive the RECOVERY path directly over a hand-built
    * half-committed directory (crash after the intent commit, crash
    * after the signature append, partial intent write). */
  private[pipeline] def nearDupBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, n: Int, numHashes: Int,
      rowsPerBand: Int, theta: Double, sigPath: String,
      pairsPath: String): Unit =
    pairBatch(batch, batchId, idCol, sigPath, pairsPath)(
      refreshMinhash(_, idCol, textCol, n, numHashes, sigPath))(newIds =>
      Dedup.minhashPairsDelta(minhashIndex(batch.sparkSession, sigPath),
        newIds, rowsPerBand, theta))

  /** [[streamingRefresh]] pre-wired to [[refreshMinhash]]. */
  def streamingRefreshMinhash(docs: DataFrame, idCol: String,
      textCol: String, n: Int, numHashes: Int, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamingRefresh(docs, path)(
      refreshMinhash(_, idCol, textCol, n, numHashes, path))

  // -------------------------- perceptual frame FINGERPRINT index (m9)

  /** Bring the perceptual frame-fingerprint table (doc, frame_idx,
    * fingerprint) at `path` up to date with `frames` (the
    * [[graft.operators.Multimodal.sampleFrames]] shape): fingerprints
    * compute ONLY for doc ids not yet indexed, and append — the
    * fingerprint is per-frame deterministic ([[graft.operators.Multimodal
    * .dhashFingerprint]] — pure byte arithmetic), so incremental ==
    * from-scratch exactly. Frames are append-heavy in a real feed (m8's
    * per-run recompute pays the full corpus every time); the index pays
    * only the arriving docs. A SUBJECT doc is erased via
    * [[eraseFingerprints]] (the p6 path). */
  def refreshFingerprints(frames: DataFrame, idCol: String,
      frameIdxCol: String, frameCol: String, path: String): Refresh = {
    val ix = new PerDocArtifact(frames.sparkSession, path)
    ix.append(ix.unseen(frames, idCol).select(col(idCol).as("doc"),
      col(frameIdxCol).cast("int").as("frame_idx"),
      graft.operators.Multimodal.dhashFingerprint(col(frameCol))
        .as("fingerprint")))
  }

  /** The fingerprint table as stored: (doc, frame_idx, fingerprint). */
  def fingerprintIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Frame near-dup pairs from the PERSISTED fingerprints — zero
    * sampling/fingerprint recompute; pigeonhole banding + the exact
    * in-join Hamming bound only ([[Dedup.hammingPairs]] over frame
    * keys `doc·frameStride + frame_idx`). */
  def framePairs(spark: SparkSession, path: String, frameStride: Long,
      maxDist: Int): DataFrame =
    Dedup.hammingPairs(
      fingerprintIndex(spark, path)
        .select((col("doc") * frameStride + col("frame_idx")).as("doc"),
          col("fingerprint").as("simhash")),
      maxDist)

  /** One micro-batch of [[streamingFramePairs]] — [[pairBatch]] over
    * frame fingerprints, emitting the Hamming pairs touching a new doc
    * ([[Dedup.hammingPairsDelta]] over frame keys). */
  private[pipeline] def frameNearDupBatch(batch: DataFrame,
      batchId: Long, idCol: String, frameIdxCol: String,
      frameCol: String, frameStride: Long, maxDist: Int,
      sigPath: String, pairsPath: String): Unit =
    pairBatch(batch, batchId, idCol, sigPath, pairsPath)(
      refreshFingerprints(_, idCol, frameIdxCol, frameCol, sigPath)) {
      newIds =>
        val keyed = fingerprintIndex(batch.sparkSession, sigPath)
          .select(col("doc"),
            (col("doc") * frameStride + col("frame_idx")).as("fid"),
            col("fingerprint"))
        Dedup.hammingPairsDelta(
          keyed.select(col("fid").as("doc"), col("fingerprint").as("simhash")),
          keyed.join(newIds, Seq("doc"), "left_semi").select("fid"),
          maxDist)
    }

  /** Continuous frame near-dup maintenance: each micro-batch appends
    * its new docs' fingerprints and emits exactly the pairs involving
    * them (the s6 exactly-once pair contract, m9's streaming face). */
  def streamingFramePairs(frames: DataFrame, idCol: String,
      frameIdxCol: String, frameCol: String, frameStride: Long,
      maxDist: Int, sigPath: String, pairsPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(frames, sigPath)(frameNearDupBatch(_, _, idCol,
      frameIdxCol, frameCol, frameStride, maxDist, sigPath, pairsPath))

  // ------------------------- symmetric-delete edit-pair index (d18)

  /** Bring the symmetric-delete variant-key table (doc, str, vk, d) at
    * `path` up to date with `df` — the persisted/incremental face of
    * d17's [[graft.operators.Dedup.editPairs]]: variants compute ONLY
    * for ids not yet indexed and append, and because the deletion
    * neighborhood is a pure per-row function of the string, delta ≡
    * scratch EXACTLY. The stored `d` column pins the build's maxDist
    * (the one-row stamp probe). A subject row is erased via
    * [[eraseEditIndex]] (the p6 path). */
  def refreshEditIndex(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, path: String): Refresh = {
    val ix = new PerDocArtifact(df.sparkSession, path)
    ix.probe("edit index", col("d"), "maxDist", maxDist)
    ix.append(Dedup.editVariantKeys(ix.unseen(df, idCol), idCol, strCol,
        maxDist)
      .select(col("id").as("doc"), col("str"), col("vk"),
        lit(maxDist).as("d")))
  }

  /** The variant-key table as stored: (doc, str, vk, d). */
  def editIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Edit-distance pairs from the PERSISTED variant keys — the
    * weekly-run shape: zero neighborhood recompute, candidate join +
    * exact in-join levenshtein only. The hot-variant valve applies at
    * serve time (occupancy is a corpus-wide property the per-row
    * append cannot know); `maxDist` must match the stored build (the
    * one-row probe raises otherwise, never silently mixes). */
  def editPairsFromIndex(spark: SparkSession, path: String,
      maxDist: Int, maxVariantOcc: Long = Long.MaxValue): DataFrame = {
    val ix = editIndex(spark, path)
    requireStamp(ix, path, "edit index", col("d"), "maxDist", maxDist,
      "serve requested")
    Dedup.editPairsFromKeys(
      ix.select(col("doc").as("id"), col("str"), col("vk")),
      maxDist, maxVariantOcc)
  }

  /** One micro-batch of [[streamingEditPairs]] — [[pairBatch]] over
    * variant keys, emitting exactly the pairs touching a new id
    * ([[graft.operators.Dedup.editPairsDelta]], canonicalized). */
  private[pipeline] def editPairsBatch(batch: DataFrame, batchId: Long,
      idCol: String, strCol: String, maxDist: Int, maxVariantOcc: Long,
      sigPath: String, pairsPath: String): Unit =
    pairBatch(batch, batchId, idCol, sigPath, pairsPath)(
      refreshEditIndex(_, idCol, strCol, maxDist, sigPath))(newIds =>
      Dedup.editPairsDelta(
        editIndex(batch.sparkSession, sigPath)
          .select(col("doc").as("id"), col("str"), col("vk")),
        newIds, maxDist, maxVariantOcc))

  /** Continuous edit-pair maintenance: each micro-batch appends its
    * new ids' deletion variants and emits exactly the pairs involving
    * them (the s6 exactly-once pair contract, d18's streaming face). */
  def streamingEditPairs(rows: DataFrame, idCol: String, strCol: String,
      maxDist: Int, sigPath: String, pairsPath: String,
      maxVariantOcc: Long = Long.MaxValue)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(rows, sigPath)(editPairsBatch(_, _, idCol, strCol,
      maxDist, maxVariantOcc, sigPath, pairsPath))

  // ---------------- persisted containment-pairs index (d20, r19)

  /** Bring the distinct-shingle-hash table (doc, sz, hashes, n, kind) at
    * `path` up to date with `df` — the persisted face of d14/d15's
    * [[graft.operators.Dedup.containmentPairs]]: the per-doc rows
    * ([[graft.operators.Dedup.containmentDocRows]] — ascending-sorted
    * distinct xxhash64 grams + the TRUE distinct-shingle count) are a
    * pure function of the text, so delta ≡ scratch EXACTLY. The stored
    * `n` and `kind` columns pin the build (the one-row stamp probe).
    * THETA-FREE: the containment threshold, and the rarest-prefix
    * filter it sizes, are serve-time choices
    * ([[containmentPairsFromIndex]]) — global gram rarity is a
    * corpus-wide property the per-doc append cannot know, and the
    * verified output is prefix-choice-independent, so one index answers
    * any audit threshold. A subject doc is erased via
    * [[eraseContainmentIndex]] (the p6 path). */
  def refreshContainmentIndex(df: DataFrame, idCol: String,
      textCol: String, n: Int, path: String,
      kind: String = "word"): Refresh = {
    val ix = new PerDocArtifact(df.sparkSession, path)
    ix.existing.foreach(probeShingleBuild(_, path, n, kind,
      "refresh requested"))
    ix.append(Dedup.containmentDocRows(ix.unseen(df, idCol), idCol,
        textCol, n, kind)
      .withColumn("n", lit(n))
      .withColumn("kind", lit(kind)))
  }

  /** One-row stamp probes that a stored shingle table was built at the
    * requested (n, kind). */
  private def probeShingleBuild(ix: DataFrame, path: String, n: Int,
      kind: String, verb: String): Unit = {
    requireStamp(ix, path, "shingle index", col("n"), "n", n, verb)
    requireStamp(ix, path, "shingle index", col("kind"), "kind", kind, verb)
  }

  /** The stored per-doc shingle-hash table: (doc, sz, hashes, n, kind). */
  def containmentIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The probed (doc, sz, hashes) rows every shingle serve reads. */
  private def shingleRows(spark: SparkSession, path: String, n: Int,
      kind: String): DataFrame = {
    val ix = containmentIndex(spark, path)
    probeShingleBuild(ix, path, n, kind, "serve requested")
    ix.select(col("doc"), col("sz"), col("hashes"))
  }

  /** Containment pairs served from the PERSISTED index — the
    * weekly-audit shape (zero text read, zero shingling recompute;
    * [[graft.operators.Dedup.containmentPairsFromStored]]): output ≡
    * the scratch [[graft.operators.Dedup.containmentPairs]] row-for-
    * row at the same (n, θ), so d14's brute-force oracle applies
    * VERBATIM (the gate's d20 entry proves it every battery). `n` must
    * match the stored build (one-row probe raises, never silently
    * mixes). */
  def containmentPairsFromIndex(spark: SparkSession, path: String,
      n: Int, theta: Double, kind: String = "word"): DataFrame =
    Dedup.containmentPairsFromStored(shingleRows(spark, path, n, kind),
      theta)

  /** One micro-batch of [[streamingContainmentPairs]] — [[pairBatch]]
    * over shingle-hash rows, emitting exactly the pairs touching a new
    * doc ([[graft.operators.Dedup.containmentPairsDelta]] — rarity
    * ranked as-of-batch, choice-independent, so the union of deltas ≡
    * the full serve with NO valve caveat). */
  private[pipeline] def containmentPairsBatch(batch: DataFrame,
      batchId: Long, idCol: String, textCol: String, n: Int,
      theta: Double, sigPath: String, pairsPath: String): Unit =
    pairBatch(batch, batchId, idCol, sigPath, pairsPath)(
      refreshContainmentIndex(_, idCol, textCol, n, sigPath))(newIds =>
      Dedup.containmentPairsDelta(
        containmentIndex(batch.sparkSession, sigPath)
          .select(col("doc"), col("sz"), col("hashes")),
        newIds, theta))

  /** Continuous containment-pair maintenance: each micro-batch appends
    * its new docs' shingle-hash rows and emits exactly the pairs
    * involving them (the s6 exactly-once pair contract, d20's
    * streaming face). */
  def streamingContainmentPairs(rows: DataFrame, idCol: String,
      textCol: String, n: Int, theta: Double, sigPath: String,
      pairsPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(rows, sigPath)(containmentPairsBatch(_, _, idCol,
      textCol, n, theta, sigPath, pairsPath))

  /** Symmetric exact-Jaccard pairs served from the SAME persisted
    * shingle-hash artifact [[refreshContainmentIndex]] maintains — the
    * d2/d13 family's maintained face (d22). The stored per-doc rows
    * are CRITERION-FREE set state (sorted distinct gram hashes + the
    * true distinct count), so one index, refreshed once per arriving
    * batch, answers BOTH the asymmetric containment audit and the
    * symmetric Jaccard audit, each at any serve-time θ. Output ≡ the
    * scratch [[graft.operators.Dedup.jaccardPairs]] row-for-row at the
    * same (n, θ), so d2's brute-force oracle applies VERBATIM (the
    * gate's d22 entry proves it every battery). */
  def jaccardPairsFromIndex(spark: SparkSession, path: String,
      n: Int, theta: Double, kind: String = "word"): DataFrame =
    Dedup.jaccardPairsFromStored(shingleRows(spark, path, n, kind), theta)

  /** One micro-batch of [[streamingJaccardPairs]] — [[pairBatch]]
    * emitting the SYMMETRIC criterion's delta ([[graft.operators.Dedup
    * .jaccardPairsDelta]] — prefix order as-of-batch, union of deltas
    * ≡ the full serve, each pair exactly once). */
  private[pipeline] def jaccardPairsBatch(batch: DataFrame,
      batchId: Long, idCol: String, textCol: String, n: Int,
      theta: Double, sigPath: String, pairsPath: String): Unit =
    pairBatch(batch, batchId, idCol, sigPath, pairsPath)(
      refreshContainmentIndex(_, idCol, textCol, n, sigPath))(newIds =>
      Dedup.jaccardPairsDelta(
        containmentIndex(batch.sparkSession, sigPath)
          .select(col("doc"), col("sz"), col("hashes")),
        newIds, theta))

  /** Continuous symmetric-Jaccard pair maintenance over the shared
    * shingle-hash artifact: each micro-batch appends its new docs'
    * rows and emits exactly the Jaccard pairs involving them (the s6
    * exactly-once pair contract, d22's streaming face). */
  def streamingJaccardPairs(rows: DataFrame, idCol: String,
      textCol: String, n: Int, theta: Double, sigPath: String,
      pairsPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(rows, sigPath)(jaccardPairsBatch(_, _, idCol,
      textCol, n, theta, sigPath, pairsPath))

  // ---------------- persisted simhash signature index (d25, r19)

  /** Bring the 64-bit SimHash signature table (doc, simhash, n) at
    * `path` up to date with `df` — the persisted face of
    * [[graft.operators.Dedup.simhashPairs]]. The signature is a pure
    * per-doc function of the text ([[graft.operators.Dedup
    * .simhashDocs]]), so the refresh is delta ≡ scratch EXACTLY; the
    * stored `n` column pins the build's shingle width (the one-row
    * stamp probe). The artifact is DISTANCE-FREE: `maxDist`, and the
    * pigeonhole chunking it sizes, are pure serve-time choices over the
    * stored 8-byte signatures, so one index answers any audit radius.
    * Erasure: [[eraseSimhashIndex]] (p6). */
  def refreshSimhashIndex(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, path: String): Refresh = {
    val ix = new PerDocArtifact(df.sparkSession, path)
    ix.probe("simhash index", col("n"), "n", shingleN)
    ix.append(Dedup.simhashDocs(ix.unseen(df, idCol), idCol, textCol,
        shingleN)
      .withColumn("n", lit(shingleN)))
  }

  /** The stored signature table: (doc, simhash, n). */
  def simhashIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** [[graft.operators.Dedup.simhashPairs]] served from the PERSISTED
    * signature table — zero text read, zero shingling/signature
    * recompute at audit time; `maxDist` is a serve-time choice. Output
    * ≡ the scratch operator row-for-row at the same (shingleN, maxDist)
    * — the banding and the exact Hamming filter run the same
    * [[graft.operators.Dedup.hammingPairs]] plan over identical
    * signatures, so the gate's d25 entry carries d4's golden content
    * hash VERBATIM. */
  def simhashPairsFromIndex(spark: SparkSession, path: String,
      shingleN: Int, maxDist: Int): DataFrame = {
    val ix = simhashIndex(spark, path)
    requireStamp(ix, path, "simhash index", col("n"), "n", shingleN,
      "serve requested")
    Dedup.hammingPairs(ix.select(col("doc"), col("simhash")), maxDist)
  }

  /** One micro-batch of [[streamingSimhashPairs]] — [[pairBatch]] over
    * signature rows, emitting exactly the Hamming pairs touching this
    * batch's new docs ([[graft.operators.Dedup.hammingPairsDelta]] —
    * chunk buckets are corpus-state-free, so the union of deltas ≡ the
    * full serve, each pair exactly once). */
  private[pipeline] def simhashPairsBatch(batch: DataFrame,
      batchId: Long, idCol: String, textCol: String, shingleN: Int,
      maxDist: Int, sigPath: String, pairsPath: String): Unit =
    pairBatch(batch, batchId, idCol, sigPath, pairsPath)(
      refreshSimhashIndex(_, idCol, textCol, shingleN, sigPath))(newIds =>
      Dedup.hammingPairsDelta(
        simhashIndex(batch.sparkSession, sigPath)
          .select(col("doc"), col("simhash")),
        newIds, maxDist))

  /** Continuous simhash-pair maintenance: each micro-batch appends its
    * new docs' signatures and emits exactly the Hamming pairs
    * involving them (the s6 exactly-once pair contract, d25's
    * streaming face). */
  def streamingSimhashPairs(rows: DataFrame, idCol: String,
      textCol: String, shingleN: Int, maxDist: Int, sigPath: String,
      pairsPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(rows, sigPath)(simhashPairsBatch(_, _, idCol,
      textCol, shingleN, maxDist, sigPath, pairsPath))

  /** p6 staged-swap erasure for the simhash signature table. */
  def eraseSimhashIndex(spark: SparkSession, path: String,
      subjects: DataFrame, subjectCol: String): Erased =
    eraseKeyed(spark, path, "doc", subjects, subjectCol)

  // ---------------- banded semantic-decontam index (c31/s19, r18)

  private def semVecsPath(path: String) = s"${path.stripSuffix("/")}__vecs"

  /** Bring the banded semantic-decontam index at `path` up to date
    * with `train` — the persisted face of [[graft.operators.Dedup
    * .crossCosinePairsLsh]]: c30's banded path recomputed every
    * train-side hyperplane signature per audit. `train` is the
    * [[graft.operators.TextSearch.hashingTfIdf]] triple shape under a
    * FROZEN vectorizer fit (the [[refreshIvf]] frozen-quantizer stance:
    * signatures are deterministic per doc GIVEN the fit, which is what
    * makes delta ≡ scratch exact — re-fitting the IDF means rebuild).
    *
    * Two PerDocArtifact tables: `path` holds the signature rows (doc,
    * tbl, sig, bits, tables, dim — the config columns are the stamp),
    * `path`__vecs the per-doc sorted sparse vectors (doc, buckets,
    * weights) the serve-time exact verify reads.
    *
    * TWO-TABLE COMMIT: a `_refresh_intent` marker under `path` commits
    * BEFORE the first append and clears after the second, so the crash
    * window between the two table writes is OBSERVABLE
    * ([[semanticLshRefreshPending]]) instead of silent. Convergence
    * never depended on the marker: each table's append anti-joins on
    * ITS OWN doc set, so both appends are individually idempotent at
    * doc grain and every crash window replays clean — vectors append
    * FIRST, so a crash between the writes leaves vec rows whose doc has
    * no signatures yet (invisible to the collision join), and the NEXT
    * refresh re-derives exactly the missing signature rows.
    * SilverIndexSpec's crash-window case hand-builds the half-state and
    * pins the heal. Weekly-audit serve is [[semanticPairsFromIndex]];
    * erasure [[eraseSemanticLsh]]. */
  def refreshSemanticLsh(train: DataFrame, dim: Int, bits: Int,
      tables: Int, path: String): Refresh = {
    val spark = train.sparkSession
    val sig = new PerDocArtifact(spark, path)
    sig.probe("semantic index",
      concat_ws(",", col("bits"), col("tables"), col("dim")),
      "(bits,tables,dim)", s"$bits,$tables,$dim")
    // feeds both table writes — batch-sized by the anti-join
    val vecs = Dedup.sparseDocVectors(sig.unseen(train, "doc"), dim,
      "refreshSemanticLsh").localCheckpoint(true)
    // intent marker: single-file create is the atomic commit point (a
    // leading underscore keeps it invisible to hasDataFiles/dataStats)
    val fs = fsOf(spark, path)
    fs.create(semIntentPath(path), true).close()
    val vec = new PerDocArtifact(spark, semVecsPath(path))
    vec.append(vec.unseen(vecs, "doc"))
    val r = sig.append(vecs.withColumn("__bk", explode(
        AnnSearch.sparseTableSigs(col("buckets"), col("weights"), bits,
          tables)))
      .select(col("doc"), col("__bk.tbl").as("tbl"),
        col("__bk.sig").as("sig"), lit(bits).as("bits"),
        lit(tables).as("tables"), lit(dim).as("dim")))
    fs.delete(semIntentPath(path), false)
    r
  }

  private def semIntentPath(path: String) =
    new Path(path, "_refresh_intent")

  /** True iff a [[refreshSemanticLsh]] run is in flight or crashed
    * between its two table appends (the intent marker is pending).
    * Serving stays correct either way — orphan vec rows are invisible
    * to the collision join — and ANY later refresh over the same
    * corpus heals the half-state and clears the marker; this exists so
    * an operator (and the crash-window spec) can OBSERVE the window
    * rather than infer it from row-count forensics. */
  def semanticLshRefreshPending(spark: SparkSession,
      path: String): Boolean =
    fsOf(spark, path).exists(semIntentPath(path))

  /** The signature table as stored: (doc, tbl, sig, bits, tables, dim). */
  def semanticLshIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Banded semantic-decontam pairs served from the PERSISTED index —
    * the weekly-audit shape: zero train-side signature recompute;
    * the benchmark-sized eval triples band on the fly under the
    * STORED build config, candidates are (tbl, sig) collisions against
    * the stored signatures, and every candidate is verified with the
    * exact round-6 sparse cosine from the stored vectors — so output
    * ≡ [[graft.operators.Dedup.crossCosinePairsLsh]] over the same
    * corpora ROW-FOR-ROW (SilverIndexSpec pins it), and c30's recall
    * contract (floor 0.7, false_pairs 0) holds over index-served
    * candidates by construction. */
  def semanticPairsFromIndex(spark: SparkSession, path: String,
      evalTriples: DataFrame, theta: Double): DataFrame = {
    require(theta > 0.0 && theta <= 1.0,
      s"theta must be in (0, 1]: $theta")
    val ix = semanticLshIndex(spark, path)
    val cfg = ix.select(col("bits"), col("tables"), col("dim")).limit(1)
      .collect().headOption
    require(cfg.nonEmpty, s"no semantic index rows under $path")
    val (bits, tables, dim) =
      (cfg.get.getInt(0), cfg.get.getInt(1), cfg.get.getInt(2))
    semanticPairsOver(ix, spark.read.parquet(semVecsPath(path)),
      evalTriples, theta, dim, bits, tables)
  }

  /** The collision-candidates + exact-verify serve over explicit
    * signature/vector frames — shared by the full serve and the
    * per-batch delta (which pre-filters both frames to the batch's
    * new docs). */
  private def semanticPairsOver(sigs: DataFrame, vecs: DataFrame,
      evalTriples: DataFrame, theta: Double, dim: Int, bits: Int,
      tables: Int): DataFrame = {
    // the eval side feeds two consumers (banding + verify) — bound the
    // cache by call site (the c28 semanticW discipline)
    val ev = graft.ManagedCache.swap("SilverIndex.semanticEval",
      Dedup.sparseDocVectors(evalTriples, dim, "semanticPairsFromIndex"))
    val evSigs = ev.withColumn("__bk", explode(
        AnnSearch.sparseTableSigs(
          col("buckets"), col("weights"), bits, tables)))
      .select(col("doc").as("eval_doc"), col("__bk.tbl").as("tbl"),
        col("__bk.sig").as("sig"))
    // UNHINTED collision join (the d16 lesson): AQE broadcasts the
    // benchmark-sized eval signatures at runtime and falls back to a
    // (tbl, sig)-keyed shuffle when a giant eval set is not
    val cands = sigs.select(col("doc").as("train_doc"), col("tbl"),
        col("sig"))
      .join(evSigs, Seq("tbl", "sig"))
      .select(col("train_doc"), col("eval_doc"))
      .dropDuplicates("train_doc", "eval_doc")
    // verify: candidates are output-shaped, the vec join back is the
    // a15 semi-into-frozen-assignments stance
    cands
      .join(vecs.select(col("doc").as("train_doc"),
        col("buckets").as("__tb"), col("weights").as("__tw")), "train_doc")
      .join(ev.select(col("doc").as("eval_doc"),
        col("buckets").as("__eb"), col("weights").as("__ew")), "eval_doc")
      .select(col("train_doc"), col("eval_doc"),
        round(graft.functions.VectorFunctions.sparseDot(
          col("__tb"), col("__tw"), col("__eb"), col("__ew")), 6)
          .as("cosine"))
      .where(col("cosine") >= theta)
  }

  /** One micro-batch of [[streamingSemanticPairs]] — [[pairBatch]] over
    * hyperplane signatures, emitting exactly the pairs whose TRAIN doc
    * is new (the eval side is a frozen benchmark frame, so train-only
    * growth makes the union of deltas ≡ the full serve EXACTLY —
    * signatures are per-doc deterministic under the frozen fit, and a
    * pair exists iff its train doc collides, which is decided the
    * batch that doc arrives). */
  private[pipeline] def semanticPairsBatch(batch: DataFrame,
      batchId: Long, evalTriples: DataFrame, theta: Double, dim: Int,
      bits: Int, tables: Int, sigPath: String, pairsPath: String): Unit =
    pairBatch(batch, batchId, "doc", sigPath, pairsPath)(
      refreshSemanticLsh(_, dim, bits, tables, sigPath)) { newIds =>
      val spark = batch.sparkSession
      semanticPairsOver(
        semanticLshIndex(spark, sigPath).join(newIds, Seq("doc"), "left_semi"),
        spark.read.parquet(semVecsPath(sigPath))
          .join(newIds, Seq("doc"), "left_semi"),
        evalTriples, theta, dim, bits, tables)
    }

  /** Continuous banded semantic-decontam maintenance: each micro-batch
    * of train-side TF-IDF triples (under the frozen fit) appends its
    * new docs' signatures + vectors and emits exactly the flagged
    * pairs involving them (the s6 exactly-once pair contract — d18's
    * streaming face, one ring out: s19).
    *
    * EVAL-APPEND CONTRACT: each train doc is checked against the eval
    * set AS OF THE BATCH IT ARRIVES — correct while the benchmark is
    * frozen, but a benchmark APPENDED mid-stream is never checked
    * against already-arrived train docs by this stream alone. The
    * recovery is ONE [[semanticPairsFromIndex]] serve over the eval
    * DELTA: it bands only the appended eval docs against the whole
    * index, and the union of the accumulated stream pairs with that
    * serve equals the full serve over the grown benchmark EXACTLY
    * (a pair exists iff its train doc's stored signature collides with
    * its eval doc's — independent of WHEN either side arrived).
    * Restart the stream with the grown eval frame for later batches;
    * SilverIndexSpec's eval-append case pins the recipe. */
  def streamingSemanticPairs(rows: DataFrame, evalTriples: DataFrame,
      theta: Double, dim: Int, bits: Int, tables: Int, sigPath: String,
      pairsPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(rows, sigPath)(semanticPairsBatch(_, _, evalTriples,
      theta, dim, bits, tables, sigPath, pairsPath))

  /** Erasure for the banded semantic index (the p6 path): the
    * subject's signature AND vector rows drop, so
    * [[semanticPairsFromIndex]] can never band or verify an erased doc
    * again — the [[eraseEditIndex]] staged-swap anti-join over both
    * tables. Signatures first: a crash between the two rewrites leaves
    * vec rows no collision can reach. */
  def eraseSemanticLsh(spark: SparkSession, path: String,
      subjects: DataFrame, subjectCol: String): Erased = {
    val r = eraseKeyed(spark, path, "doc", subjects, subjectCol)
    eraseKeyed(spark, semVecsPath(path), "doc", subjects, subjectCol)
    r
  }

  // ----------------------------------------------------------- BM25 postings

  /** Bring the inverted-index postings table (doc, term, tf) at `path`
    * up to date with `docs`: postings compute ONLY for doc ids not yet
    * indexed, and append. Per-document deterministic (tokenize + per-doc
    * term counts), so incremental == from-scratch exactly — and the BM25
    * *statistics* (N, avg length, per-term df) are derived from the
    * postings and the doc-length companion, so they stay consistent
    * with the appended corpus; nothing global needs recomputing. */
  def refreshPostings(docs: DataFrame, idCol: String, textCol: String,
      path: String): Refresh = {
    val spark = docs.sparkSession
    val ix = new PerDocArtifact(spark, path)
    val fs = fsOf(spark, path)
    // was the doclen companion in sync BEFORE this append? (valid meta =
    // fast incremental path; anything else → one idempotent rebuild)
    val auxBefore = readBm25Meta(fs, path)
    // one tokenize/explode pass feeds both the doc-length companion
    // append and the postings append. ORDER MATTERS: `newPost` anti-joins
    // against the postings dir's listing, so every action that evaluates
    // it must run BEFORE the postings append mutates that dir — a cached
    // frame is a best-effort optimization, not a correctness guarantee
    // (evict + re-list after the append would silently empty the delta).
    // The doclen append therefore goes FIRST; a crash between the two
    // leaves the companion ahead of the postings, which the next
    // [[readBm25Meta]] fingerprint check detects (meta not yet written →
    // stale) and [[ensureBm25Aux]] rebuilds wholesale.
    val newPost = graft.ManagedCache.swap("SilverIndex.refreshPostings",
      TextSearch.postings(ix.unseen(docs, idCol), idCol, textCol))
    val doclen = auxBefore.map { st =>
      val obs = org.apache.spark.sql.Observation()
      newPost.groupBy("doc").agg(sum(col("tf")).as("len"))
        .observe(obs, count(lit(1)).as("n"),
          coalesce(sum(col("len")), lit(0L)).as("s"))
        .write.mode("append").parquet(doclenPath(path))
      (st, obs)
    }
    // term-sorted within each file: a driver-known query's pushed
    // In(term, …) predicate then skips row groups by min/max stats
    val r = ix.append(newPost, shape = _.sortWithinPartitions(col("term")))
    doclen match {
      case Some((st, obs)) =>
        writeBm25Meta(fs, path, Bm25Stats(
          st.docs + obs.get("n").asInstanceOf[Long],
          st.totalLen + obs.get("s").asInstanceOf[Long]))
      case None => ensureBm25Aux(spark, path)
    }
    graft.ManagedCache.release("SilverIndex.refreshPostings")
    r
  }

  // BM25 companion state: per-doc lengths as a SIBLING table
  // (`<path>__doclen` — a `_`-prefixed subdir inside the postings dir
  // would be hidden from the flat postings read as intended, but
  // Spark's hidden-path filter also refuses to read such a dir as a
  // parquet ROOT), plus a stats sidecar carrying (docs, Σlen) with BOTH
  // directory fingerprints — so deleting/rebuilding the postings dir
  // out-of-band makes the companion provably stale, never silently
  // wrong. Deriving doc lengths at query time re-aggregates the whole
  // postings table — measured 27 s of the 27 s query-from-postings wall
  // at 1M docs; an index stores them once.
  private def doclenPath(path: String) = s"${path.stripSuffix("/")}__doclen"
  private def bm25MetaFile(path: String) =
    new Path(doclenPath(path), "_bm25meta.json")

  private[pipeline] case class Bm25Stats(docs: Long, totalLen: Long) {
    def avgLen: Double = totalLen.toDouble / docs
  }

  /** The stats IF both fingerprints are current (doclen untouched since
    * the sidecar write AND postings unchanged since the doclen sync) —
    * a crash between the postings append and the doclen append, a
    * legacy index, or out-of-band writes all invalidate it. */
  private def readBm25Meta(fs: FileSystem, path: String): Option[Bm25Stats] =
    readSidecar(fs, bm25MetaFile(path))
      .filter(kv =>
        kv.get("doclen_fp").contains(fingerprint(fs, doclenPath(path))) &&
          kv.get("post_fp").contains(fingerprint(fs, path)))
      .flatMap(kv => scala.util.Try(
        Bm25Stats(kv("docs").toLong, kv("total_len").toLong)).toOption)

  private def writeBm25Meta(fs: FileSystem, path: String,
      st: Bm25Stats): Unit =
    writeSidecar(fs, bm25MetaFile(path),
      s"""{"docs":${st.docs},"total_len":${st.totalLen},""" +
        s""""doclen_fp":"${fingerprint(fs, doclenPath(path))}",""" +
        s""""post_fp":"${fingerprint(fs, path)}"}""")

  /** Doc-length companion + stats, rebuilt wholesale from the postings
    * whenever the sidecar can't prove freshness — ONE idempotent
    * recovery path covers legacy indexes, crashes between the two
    * appends, and out-of-band writes. */
  private def ensureBm25Aux(spark: SparkSession, path: String): Bm25Stats = {
    val fs = fsOf(spark, path)
    readBm25Meta(fs, path).getOrElse {
      spark.read.parquet(path)
        .groupBy("doc").agg(sum(col("tf")).as("len"))
        .write.mode("overwrite").parquet(doclenPath(path))
      val row = spark.read.parquet(doclenPath(path))
        .agg(count(lit(1)), coalesce(sum(col("len")), lit(0L))).head()
      val st = Bm25Stats(row.getLong(0), row.getLong(1))
      writeBm25Meta(fs, path, st)
      st
    }
  }

  /** The persisted postings as [[TextSearch.bm25TopKFromPostings]]
    * consumes them. */
  def postingsIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The postings table re-clustered by DOC — for whole-table
    * DOC-keyed consumers (TF-IDF weighting, per-doc norms: the s16
    * semantic serve path). The stored layout is deliberately
    * TERM-sorted within files so driver-known query terms prune row
    * groups (the BM25 serve path); the flip side is that every scan
    * partition then holds rows for nearly EVERY doc, and a doc-keyed
    * partial aggregation over that layout emits ~|docs|·|groups|
    * partials per partition instead of collapsing locally — measured
    * 5× on the s16 report at sf0.1 (12 s → 2.3 s; the scratch-postings
    * path was never affected because its rows arrive (doc, term)-hash
    * distributed). One narrow exchange of the postings buys doc-local
    * partials for everything downstream. */
  def postingsIndexByDoc(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).repartition(col("doc"))

  /** The full BM25 index for query paths: flat postings, the doc-length
    * companion, and (N, avgLen) from the sidecar — the companion is
    * rebuilt first if anything about it is stale. */
  def bm25Index(spark: SparkSession, path: String)
      : (DataFrame, DataFrame, Long, Double) = {
    val st = ensureBm25Aux(spark, path)
    (spark.read.parquet(path), spark.read.parquet(doclenPath(path)),
      st.docs, st.avgLen)
  }

  /** BM25 top-k against the PERSISTED index — the recurring-query
    * shape: no tokenize/explode over the corpus, no corpus-wide
    * aggregation (lengths and stats are stored), the query terms a
    * PUSHED parquet predicate over the term-sorted postings files. */
  def bm25TopKFromIndex(spark: SparkSession, path: String, query: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (post, docLen, nDocs, avgLen) = bm25Index(spark, path)
    TextSearch.bm25TopKFromIndexParts(post, docLen, nDocs, avgLen,
      query, k, k1, b)
  }

  /** Batched BM25 against the persisted index: a whole (id, text)
    * query table in one pass over the postings, stored lengths/stats —
    * the retrieval-evaluation / training-example-mining shape. */
  def bm25TopKBatchFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, idCol: String, textCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (post, docLen, nDocs, avgLen) = bm25Index(spark, path)
    TextSearch.bm25TopKBatchFromIndexParts(post, docLen, nDocs, avgLen,
      queries, idCol, textCol, k, k1, b)
  }

  /** [[streamingRefresh]] pre-wired to [[refreshPostings]]. */
  def streamingRefreshPostings(docs: DataFrame, idCol: String,
      textCol: String, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamingRefresh(docs, path)(refreshPostings(_, idCol, textCol, path))

  // -------------------------------------------------------------------- IVF

  private def centPath(path: String) = s"$path/centroids"
  private def asgPath(path: String) = s"$path/assigned"

  /** Access-ordered LRU for the driver-side frozen-quantizer caches:
    * entries are small (nlist / m·ksub rows) but a long-lived serving
    * session touching many indexes must not accumulate them forever.
    * Capacity is re-read per insert from `graft.silverindex.cacheCap`
    * (default 64 entries — generous for any realistic index fan-out;
    * the property exists so the eviction+reload path is spec-testable
    * without 65 index builds). Eviction is harmless by construction:
    * every entry is fingerprint-validated on read, so an evicted path
    * simply reloads from parquet — SilverIndexSpec pins that a capped-
    * out entry serves identical rows after reload. */
  private final class DriverLru[V] {
    private val m = new java.util.LinkedHashMap[String, V](16, 0.75f, true)
    private def cap: Int =
      // a malformed property value must degrade to the default, not
      // throw NumberFormatException from the cache-insert path of a
      // serving query; non-positive values are equally malformed (the
      // eviction loop floors at 1 regardless)
      sys.props.get("graft.silverindex.cacheCap")
        .flatMap(v => scala.util.Try(v.toInt).toOption)
        .filter(_ >= 1).getOrElse(64)
    def get(k: String): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: String, v: V): Unit = m.synchronized {
      m.put(k, v)
      while (m.size > math.max(1, cap)) {
        val it = m.keySet.iterator(); it.next(); it.remove()
      }
    }
  }

  /** Per-path cache of the FROZEN quantizer rows, keyed by the centroid
    * dir's data-file fingerprint: the quantizer freezes at first build
    * (the IVF append discipline), yet every delta refresh and every
    * probe would otherwise re-read + re-collect its ≤ nlist rows from
    * parquet — two extra jobs per a6-shaped run. The fingerprint makes
    * a re-trained index (dir deleted + rebuilt) a cache miss, never a
    * stale hit. Values are driver Rows (KBs at any realistic
    * nlist·dim). */
  private val centCache = new DriverLru[
    (String, Array[Row], org.apache.spark.sql.types.StructType)]

  private def loadCents(spark: SparkSession, path: String): DataFrame = {
    val dir = centPath(path)
    val fp = fingerprint(fsOf(spark, dir), dir)
    val (rows, schema) = centCache.get(dir) match {
      case Some((hfp, r, sch)) if hfp == fp => (r, sch)
      case _ =>
        val df = spark.read.parquet(dir)
        val r = df.collect()
        centCache.put(dir, (fp, r, df.schema))
        (r, df.schema)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The frozen coarse quantizer of the index at `path`: loaded when the
    * centroid dir has data files, else trained on `c` (hash-sampled
    * seeds + one Lloyd pass, [[AnnSearch.ivfCentroids]]), persisted,
    * and cached from the rows the builder already holds. A centroid dir
    * without data files means the quantizer was "built" on an empty
    * corpus (e.g. a quiet first streaming micro-batch) — it trains for
    * real on the first non-empty one. */
  private def frozenCents(spark: SparkSession, c: DataFrame, nlist: Int,
      path: String): DataFrame =
    if (hasDataFiles(spark, centPath(path))) loadCents(spark, path)
    else {
      val built = AnnSearch.ivfCentroids(c, nlist)
      built.write.mode("overwrite").parquet(centPath(path))
      centCache.put(centPath(path), (fingerprint(fsOf(spark, path),
        centPath(path)), built.collect(), built.schema))
      built
    }

  /** Bring the IVF index at `path` up to date with `corpus`. First call
    * builds + persists the quantizer ([[frozenCents]]); later calls
    * FREEZE it and only assign-and-append vectors whose ids are not yet
    * indexed — the standard IVF append discipline, so incremental ==
    * from-scratch with the same centroids, exactly. The assignment
    * table is partitioned by `list_id`, so probe-time reads prune to
    * nprobe/nlist of the files. Re-quantize by deleting the index dir
    * when drift warrants ([[maintainIvf]] measures it). */
  def refreshIvf(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, path: String): Refresh = {
    val spark = corpus.sparkSession
    val c = AnnSearch.ivfCorpus(corpus, idCol, vecCol)
    val cents = frozenCents(spark, c, nlist, path)
    val ix = new PerDocArtifact(spark, asgPath(path), "neighbor_id",
      oneRowPerId = true)
    // co-locate each list's rows before the partitioned write: without
    // it every input task emits a file into every list dir (tasks ×
    // nlist tiny files), which the anti-join listing and every probe
    // read then pay for. One narrow shuffle of (id, cv, list_id) rows
    // buys one file per (task, list) with AQE coalescing — at cluster
    // scale, add more write tasks, not more files per list.
    ix.append(AnnSearch.ivfAssign(ix.unseen(c, "neighbor_id"), cents),
      Seq("list_id"), _.repartition(col("list_id")))
  }

  /** The persisted assignment, shaped for
    * [[AnnSearch.ivfTopKFromAssigned]]: (neighbor_id, cv, list_id) with
    * `list_id` cast back to the centroid table's id type (partition-
    * column inference narrows it on read). */
  def ivfAssigned(spark: SparkSession, path: String): DataFrame = {
    val cents = loadCents(spark, path)
    spark.read.parquet(asgPath(path))
      .withColumn("list_id",
        col("list_id").cast(cents.schema("list_id").dataType))
      .select(col("neighbor_id"), col("cv"), col("list_id"))
  }

  /** ANN top-k against the PERSISTED index: no quantizer build, no
    * corpus-wide assignment — the recurring-query shape. The frozen
    * quantizer serves from the per-path cache ([[loadCents]]), so a
    * probe costs only the partition-pruned assignment scan. */
  def ivfTopKFromIndex(queries: DataFrame, idCol: String, vecCol: String,
      path: String, k: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val cents = loadCents(spark, path)
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    AnnSearch.ivfTopKFromAssigned(q0, ivfAssigned(spark, path), cents,
      k, nprobe)
  }

  /** Metadata-FILTERED ANN against the persisted IVF index: the
    * vector-database "filtered search" semantics — top-k among only the
    * members whose id appears in `eligible` (an attribute predicate
    * resolved to an id frame by the caller: `labels.where(...)`). This
    * is PRE-filtering done right for a frozen index: the filter
    * composes as a semi-join into the assignment table BEFORE any
    * scoring, so candidates are (probed lists ∩ eligible) — never
    * score-then-discard, which silently returns < k eligible rows when
    * the top-k is filter-heavy. Results are exactly `ivfTopKFromIndex`
    * over a corpus restricted to the eligible rows under the SAME
    * frozen quantizer (SilverIndexSpec pins subset + recall vs the
    * filtered brute baseline). */
  def ivfTopKFromIndexWhere(queries: DataFrame, idCol: String,
      vecCol: String, path: String, k: Int, nprobe: Int,
      eligible: DataFrame, eligibleIdCol: String): DataFrame = {
    val spark = queries.sparkSession
    val cents = loadCents(spark, path)
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val members = ivfAssigned(spark, path).join(
      eligible.select(col(eligibleIdCol).as("neighbor_id")).distinct(),
      Seq("neighbor_id"), "left_semi")
    AnnSearch.ivfTopKFromAssigned(q0, members, cents, k, nprobe)
  }

  /** [[streamingRefresh]] pre-wired to [[refreshIvf]] (first batch
    * trains and freezes the quantizer, later batches assign-and-append
    * — the standard IVF append discipline under streaming arrival). */
  def streamingRefreshIvf(docs: DataFrame, idCol: String, vecCol: String,
      nlist: Int, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamingRefresh(docs, path)(refreshIvf(_, idCol, vecCol, nlist, path))

  // ----------------------------------------------------------------- IVF-PQ

  private def bookPath(path: String) = s"$path/codebooks"
  private def codesPath(path: String) = s"$path/codes"

  /** Bring the IVF-PQ index at `path` up to date with `corpus` — the
    * [[AnnSearch.ivfPqTopK]] composite with BOTH quantizers persisted
    * and frozen. First call trains the coarse quantizer and the m
    * per-subspace RESIDUAL codebooks (over `v − centroid(list)`, the
    * FAISS IndexIVFPQ shape — see [[AnnSearch.ivfPqTopK]]) and persists
    * them (`centroids`, `codebooks` keyed by (subspace, list_id)); later
    * calls reload the frozen quantizers and encode ONLY vectors whose
    * ids are not yet in the code table, appending (neighbor_id, codes,
    * rnorm2, list_id) partitioned by `list_id` — `rnorm2` is the stored
    * reconstruction norm ([[AnnSearch.pqReconNorm2]]) that keeps
    * query-time scoring free of any nlist-sized table. Encoding is
    * per-row deterministic against frozen quantizers, so incremental ==
    * from-scratch with the same quantizers, exactly (SilverIndexSpec
    * proves table-level identity). At 10¹¹ vectors this table IS the
    * ANN index: 40 bits of codes + one float norm + a partition key per
    * vector, probes partition-prune to nprobe/nlist of the files, and
    * the weekly refresh costs ∝ |new docs|. Re-train by deleting the
    * index dir (the FAISS-style rebuild cadence decision, as
    * [[refreshIvf]]). Indexes written before residual encoding (no
    * `rnorm2` column) fail loudly at query time — rebuild them. */
  def refreshIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, ksub: Int, path: String): Refresh = {
    val spark = corpus.sparkSession
    val c = AnnSearch.ivfCorpus(corpus, idCol, vecCol)
    val sub = AnnSearch.pqSubDim(c, m)
    val cents = frozenCents(spark, c, nlist, path)
    val books =
      if (hasDataFiles(spark, bookPath(path)))
        loadCodebooks(spark, path, m, sub)
      else {
        // codebooks train on what they will encode: the residuals
        val resid = AnnSearch.ivfAssign(c, cents)
          .join(broadcast(cents), "list_id")
          .select(col("neighbor_id"),
            graft.functions.VectorFunctions.sub(col("cv"), col("centv"))
              .as("cv"))
        val frames = AnnSearch.pqCodebookFrames(resid, m, ksub, sub)
        frames.zipWithIndex.map { case (f, j) =>
            f.select(lit(j).as("subspace"), col("list_id"), col("centv"))
          }.reduce(_ unionAll _)
          .write.mode("overwrite").parquet(bookPath(path))
        frames.map(AnnSearch.centMatrix)
      }
    val ix = new PerDocArtifact(spark, codesPath(path), "neighbor_id",
      oneRowPerId = true)
    val coded = AnnSearch.ivfAssign(ix.unseen(c, "neighbor_id"), cents)
      .join(broadcast(cents), "list_id")
      .withColumn("codes", AnnSearch.pqEncode(
        graft.functions.VectorFunctions.sub(col("cv"), col("centv")),
        books, sub))
      .select(col("neighbor_id"), col("codes"),
        AnnSearch.pqReconNorm2(col("centv"), col("codes"), books, sub)
          .as("rnorm2"),
        col("list_id"))
    // one file per (task, list) — see refreshIvf
    ix.append(coded, Seq("list_id"), _.repartition(col("list_id")))
  }

  /** Per-path cache of the FROZEN codebook rows (the centCache pattern):
    * reloading the codebooks cost countDistinct + width check + m
    * filtered collects — m+2 driver actions on every recurring
    * from-index query against a table that froze at first build. */
  private val bookCache = new DriverLru[
    (String, Array[Row], org.apache.spark.sql.types.DataType)]

  /** The fingerprint-validated book rows (shared by [[loadCodebooks]]
    * and the [[bookShape]] stat derivation — one collect per (JVM,
    * frozen-books fingerprint), after which every from-index query is
    * driver-side on the cached rows). */
  private def loadBookRows(spark: SparkSession, path: String)
      : (Array[Row], org.apache.spark.sql.types.DataType) = {
    val dir = bookPath(path)
    val fp = fingerprint(fsOf(spark, dir), dir)
    bookCache.get(dir) match {
      case Some((hfp, r, t)) if hfp == fp => (r, t)
      case _ =>
        val df = spark.read.parquet(dir)
          .select(col("subspace"), col("list_id"), col("centv"))
        val r = df.collect()
        val t = df.schema("list_id").dataType
        bookCache.put(dir, (fp, r, t))
        (r, t)
    }
  }

  /** (m, sub) of a stored codebook table, from the cached rows — no
    * per-call `countDistinct(subspace), max(size(centv))` probe job on
    * a path whose cache already knows the shape. */
  private def bookShape(rows: Array[Row], path: String): (Int, Int) = {
    require(rows.nonEmpty,
      s"codebook table at $path is empty — the index was never built " +
        "or is corrupt; rebuild before querying")
    val m = rows.iterator.map(_.getInt(0)).toSet.size
    val sub = rows.iterator
      .map(r => Option(r.getAs[scala.collection.Seq[Any]](2))
        .fold(0)(_.length)).max
    (m, sub)
  }

  /** The frozen per-subspace codebooks reloaded as the kernel matrices:
    * filtering each subspace and re-running [[AnnSearch.centMatrix]]
    * reproduces the code → matrix-row mapping exactly (list_id-ascending
    * ordering, same driver-side widening — here via the sorted-rows
    * entry point on the cached driver rows). Widths are validated
    * against the refresh parameters so a mismatched re-run fails
    * loudly. */
  private def loadCodebooks(spark: SparkSession, path: String, m: Int,
      sub: Int): IndexedSeq[AnnSearch.CentMatrix] = {
    val (rows, idType) = loadBookRows(spark, path)
    val (storedM, width) = bookShape(rows, path)
    require(storedM == m,
      s"index at $path has $storedM subspaces, refresh requested $m — " +
        "rebuild, don't mix")
    require(width == sub,
      s"index at $path has subvector width $width, refresh derived $sub — " +
        "rebuild, don't mix")
    val bySub = rows.groupBy(_.getInt(0))
    AnnSearch.listIdOrdering(idType) match {
      case Some(ord) =>
        (0 until m).map { j =>
          val sorted = bySub(j)
            .map(r => Row(r.get(1), r.get(2)))
            .sortWith((a, b) => ord.compare(a.get(0), b.get(0)) < 0)
          AnnSearch.centMatrixFromSortedRows(sorted, idType)
        }
      case None => // exotic id types: the pre-cache distributed path
        val all = spark.read.parquet(bookPath(path))
        (0 until m).map(j => AnnSearch.centMatrix(
          all.where(col("subspace") === j)
            .select(col("list_id"), col("centv"))))
    }
  }

  /** ANN top-k against the PERSISTED IVF-PQ index: no quantizer build,
    * no corpus-wide encode — probes select lists via the frozen coarse
    * quantizer (partition-pruned read of the code table), candidates
    * score on their codes (ADC), and the float `corpus` is touched only
    * by the exact rescore of the top k·rescoreMult (broadcast join into
    * the corpus scan — never a corpus shuffle). */
  def ivfPqTopKFromIndex(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, path: String, k: Int, nprobe: Int,
      rescoreMult: Int = 40): DataFrame = {
    val spark = queries.sparkSession
    val cents = loadCents(spark, path)
    // (m, sub) from the fingerprint-cached book rows — no aggregation
    // job per call against a table that froze at first build
    val (m, sub) = bookShape(loadBookRows(spark, path)._1, path)
    val books = loadCodebooks(spark, path, m, sub)
    val codes = spark.read.parquet(codesPath(path))
      .withColumn("list_id",
        col("list_id").cast(cents.schema("list_id").dataType))
      .select(col("neighbor_id"), col("codes"), col("rnorm2"), col("list_id"))
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // per-probe coarse term dot(q, c_L) via the ≤ nlist centroid rows —
    // the residual-ADC decomposition (AnnSearch.ivfPqTopK)
    val probes = AnnSearch.probeLists(q0, cents, nprobe,
      idTypeFallback = Some(codes.schema("list_id").dataType))
      .join(broadcast(cents), "list_id")
      .withColumn("__qcdot",
        graft.functions.VectorFunctions.dot(col("qv"), col("centv")))
      .drop("centv")
      .withColumn("__lut", AnnSearch.pqQueryLut(col("qv"), books, sub))
      .withColumn("__qn", graft.functions.VectorFunctions.norm(col("qv")))
    val cand = broadcast(probes)
      .join(codes, "list_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("qscore", AnnSearch.pqAdcCosineStored(col("__lut"),
        col("__qn"), col("__qcdot"), col("codes"), col("rnorm2"), books))
    val c = AnnSearch.ivfCorpus(corpus, idCol, vecCol)
    AnnSearch.exactRescore(
      AnnSearch.pqCandTop(cand, k * rescoreMult), c, q0, k)
  }

  /** [[streamingRefresh]] pre-wired to [[refreshIvfPq]] (first non-empty
    * batch trains BOTH frozen quantizers — coarse centroids and residual
    * codebooks — later batches residual-encode only unseen ids and
    * append, the same discipline at 40 bits + a stored norm per
    * vector). */
  def streamingRefreshIvfPq(docs: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, ksub: Int, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamingRefresh(docs, path)(
      refreshIvfPq(_, idCol, vecCol, nlist, m, ksub, path))

  // ------------------------------------------------- quantile sample (s8)

  /** Quantile-SAMPLE maintenance: fold a batch into the deterministic
    * hash sample behind [[graft.operators.Sketches.sampleQuantiles]]
    * (the k3 sketch). Membership is a pure per-row function of
    * (salt, id) — a batch contributes exactly its qualifying rows — so
    * the sample is a PerDocArtifact keyed on the row id: the anti-join
    * makes an at-least-once REPLAY append zero, the stored sample is
    * row-identical to the batch gate over everything that arrived, and
    * [[graft.operators.Sketches.rankSelect]] serves the identical
    * quantiles. `total` is the stored sample size. Scale: each fold
    * appends rate·|batch| narrow rows; quantile serving sorts only the
    * stored sample. */
  def refreshQuantileSample(batch: DataFrame, idCol: String,
      valCol: String, groupCols: Seq[String], salt: String, rate: Double,
      path: String): Refresh = {
    val hk = graft.operators.Splits.hashKey(col(idCol), salt)
    val sample = batch
      .where(col(valCol).isNotNull && col(idCol).isNotNull &&
        hk < lit(graft.operators.Splits.thresholdHex(rate)))
      .select(groupCols.map(col) ++ Seq(col(idCol).as("__id"),
        col(valCol).as("__v"), hk.as("__hk")): _*)
    val ix = new PerDocArtifact(batch.sparkSession, s"$path/sample", "__id",
      oneRowPerId = true)
    ix.append(ix.unseen(sample, "__id"))
  }

  /** [[streamingRefresh]] pre-wired to [[refreshQuantileSample]]. */
  def streamingRefreshQuantileSample(rows: DataFrame, idCol: String,
      valCol: String, groupCols: Seq[String], salt: String, rate: Double,
      path: String): org.apache.spark.sql.streaming.StreamingQuery =
    streamingRefresh(rows, path)(
      refreshQuantileSample(_, idCol, valCol, groupCols, salt, rate, path))

  /** Quantiles served from the stored sample — [[graft.operators
    * .Sketches.rankSelect]] over the maintained rows. */
  def quantilesFromSample(spark: SparkSession, path: String,
      groupCols: Seq[String], qs: Seq[Double]): DataFrame =
    Sketches.rankSelect(
      spark.read.parquet(s"$path/sample")
        .select(groupCols.map(col) :+ col("__v") :+ col("__hk"): _*),
      groupCols, qs)

  // ---------------------------------------- merge-idempotent sketch folds

  /** KMV sketch maintenance: fold a batch of (group, key) rows into the
    * per-group sketch table at `path`/sketch — the streaming half of
    * [[graft.operators.Sketches.kmvDistinct]] (the k1 sketch). The fold
    * is union-truncate over the stored k-minima plus the batch's
    * distinct hashes — associative, commutative, DUPLICATE-INSENSITIVE
    * — so a replayed at-least-once micro-batch folds to the identical
    * sketch, and the final table equals the from-scratch batch sketch
    * REGARDLESS of arrival order or chunking (the s7 gate contract).
    * Commits as a sequence [[VersionedFold]].
    *
    * Scale: the stored side is |groups|·k 12-char hashes, the batch
    * side its own distinct hashes — each fold shuffles O(groups·k +
    * batch-distinct) narrow rows, never historical raw keys (the whole
    * point of maintaining the sketch instead of the key set). */
  def refreshKmv(batch: DataFrame, groupCol: String, keyCol: String,
      k: Int, path: String): Refresh = {
    val batchHashes = batch
      .where(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .select(col(groupCol).as("grp"), Sketches.kmvHash(col(keyCol)).as("hk"))
      .distinct()
    val agg = udaf(new Sketches.KmvAgg(k))
    new VersionedFold(batch.sparkSession, s"$path/sketch", "KMV sketch")
      .foldNext { stored =>
        val all = stored
          .map(_.select(col("grp"), explode(col("kmins")).as("hk")))
          .fold(batchHashes)(batchHashes.unionByName(_).distinct())
        Sketches.stampShape(all.groupBy("grp").agg(agg(col("hk")).as("kmins")),
          "kmins", Sketches.KmvKKey -> k.toLong)
      }
  }

  /** [[streamingRefresh]] pre-wired to [[refreshKmv]]. */
  def streamingRefreshKmv(rows: DataFrame, groupCol: String,
      keyCol: String, k: Int, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamingRefresh(rows, path)(refreshKmv(_, groupCol, keyCol, k, path))

  /** The sketch table as stored: (grp, kmins) — the highest committed
    * version under `path`/sketch. */
  def kmvIndex(spark: SparkSession, path: String): DataFrame =
    new VersionedFold(spark, s"$path/sketch", "KMV sketch").latest()

  /** Bloom BIT-SET maintenance: fold a batch of keys into the stored
    * distinct-position table — the streaming half of
    * [[graft.operators.Sketches.bloomBuild]] (the k4 sketch). The fold
    * is UNION + DISTINCT over positions — associative, commutative,
    * DUPLICATE-INSENSITIVE (the [[refreshKmv]] merge algebra), so a
    * replayed at-least-once micro-batch folds to the identical bit set
    * and the final table equals the from-scratch batch build
    * regardless of arrival order or chunking (the s10 gate contract).
    * Each fold shuffles O(bits-set + batch-distinct-positions) narrow
    * long rows, never the historical key bag. */
  def refreshBloom(batch: DataFrame, keyCol: String, numHashes: Int,
      mBits: Int, path: String): Refresh = {
    val batchBits = Sketches.bloomBuild(batch, keyCol, numHashes, mBits)
    new VersionedFold(batch.sparkSession, s"$path/bloom", "Bloom bit set")
      .foldNext { stored =>
        // re-stamp: the union/distinct against the stored side does not
        // reliably keep the builder's shape metadata
        Sketches.stampShape(
          stored.fold(batchBits)(batchBits.unionByName(_).distinct()),
          "pos", Sketches.BloomHashesKey -> numHashes.toLong,
          Sketches.BloomBitsKey -> mBits.toLong)
      }
  }

  /** [[streamingRefresh]] pre-wired to [[refreshBloom]]. */
  def streamingRefreshBloom(rows: DataFrame, keyCol: String,
      numHashes: Int, mBits: Int, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamingRefresh(rows, path)(
      refreshBloom(_, keyCol, numHashes, mBits, path))

  /** The maintained bit set: distinct `pos` rows — the highest
    * committed version under `path`/bloom. */
  def bloomIndex(spark: SparkSession, path: String): DataFrame =
    new VersionedFold(spark, s"$path/bloom", "Bloom bit set").latest()

  /** HyperLogLog register maintenance under streaming arrival — the
    * s7 merge-idempotent discipline verbatim: the per-bucket MAX fold
    * is associative, commutative, and duplicate-insensitive, so an
    * at-least-once replay of any batch is a no-op by construction and
    * the maintained register table is row-identical to the
    * from-scratch batch build (the s12 gate contract — k5's oracle
    * applies verbatim). Fold cost: the stored side is ≤ groups·m
    * register rows, the batch side its map-combined partial maxima —
    * O(sketch) per batch, never O(events). */
  def refreshHll(batch: DataFrame, groupCols: Seq[String],
      keyCol: String, path: String): Refresh = {
    val batchRegs = Sketches.hllBuild(batch, groupCols, keyCol)
    new VersionedFold(batch.sparkSession, s"$path/hll", "HLL register table")
      .foldNext(_.fold(batchRegs)(s => batchRegs.unionByName(s)
        .groupBy((groupCols :+ "bucket").map(col): _*)
        .agg(max(col("reg")).cast("int").as("reg"))))
  }

  /** [[streamingRefresh]] pre-wired to [[refreshHll]]. */
  def streamingRefreshHll(rows: DataFrame, groupCols: Seq[String],
      keyCol: String, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamingRefresh(rows, path)(
      refreshHll(_, groupCols, keyCol, path))

  /** The maintained register table — the highest committed version
    * under `path`/hll. */
  def hllIndex(spark: SparkSession, path: String): DataFrame =
    new VersionedFold(spark, s"$path/hll", "HLL register table").latest()

  // ------------------------------------------- batch-id guarded folds

  /** Count-Min sketch maintenance under streaming arrival — for
    * ADDITIVE state: [[refreshKmv]]'s union-truncate merge absorbs
    * replays by construction, [[refreshQuantileSample]]'s append dedupes
    * on row ids — but CMS counts can do neither (a replayed batch would
    * double-count, and the sketch keeps no ids to anti-join). Exactly-
    * once here is the standard foreachBatch TRANSACTIONAL guard: the
    * [[VersionedFold]] version is the micro-batch id, and a replay of
    * a batch id ≤ the stored one is a no-op. Fold cost: the stored side
    * is depth·width rows, the batch side its map-side-combined partial
    * counts — O(sketch) per batch, never O(events). */
  def refreshCms(batch: DataFrame, batchId: Long, keyCol: String,
      width: Int, depth: Int, path: String): Refresh = {
    val f = new VersionedFold(batch.sparkSession, path, "CMS sketch")
    f.foldBatch(batchId) {
      val part = Sketches.cmsBuild(batch, keyCol, width, depth)
      // re-stamp the shape the merge aggregation drops, so the persisted
      // counters always carry it (the serve-time mismatch guard)
      staged(Sketches.stampShape(
        f.stored().fold(part)(s => part.unionByName(s)
          .groupBy("row", "bucket").agg(sum(col("cnt")).as("cnt"))),
        "cnt", Sketches.CmsWidthKey -> width.toLong,
        Sketches.CmsDepthKey -> depth.toLong))
    }
  }

  /** [[refreshCms]] driven by Structured Streaming (the batch id comes
    * from foreachBatch itself). */
  def streamingRefreshCms(rows: DataFrame, keyCol: String, width: Int,
      depth: Int, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(rows, path)(refreshCms(_, _, keyCol, width, depth,
      path))

  /** The maintained counter table: (row, bucket, cnt) — the highest
    * committed version. */
  def cmsIndex(spark: SparkSession, path: String): DataFrame =
    new VersionedFold(spark, path, "CMS sketch").latest()

  /** STREAMING maintenance of the drift (period, category, count)
    * ledger — [[graft.operators.Drift.tvDriftFromLedger]]'s substrate.
    * Counts are an ADDITIVE fold over the feed, exactly the CMS
    * counters' algebra: neither merge-idempotent nor id-anti-join-able
    * (there is no row identity after aggregation), so the batch-id
    * guarded [[VersionedFold]] applies verbatim. NULL
    * periods/categories drop here, mirroring
    * [[graft.operators.Drift.tvDrift]]'s filter, so ledger-served
    * reports equal scan-fed ones exactly.
    *
    * Scale: each refresh aggregates ONLY the arriving batch (map-side
    * combined) and merges with the stored ledger —
    * |periods|·|categories| rows, output-sized; the corpus is never
    * rescanned. */
  def refreshDriftLedger(batch: DataFrame, batchId: Long,
      periodCol: String, catCol: String, path: String): Refresh = {
    val f = new VersionedFold(batch.sparkSession, path, "drift ledger")
    f.foldBatch(batchId) {
      val part = batch
        .where(col(periodCol).isNotNull && col(catCol).isNotNull)
        .select(col(periodCol).as("period"), col(catCol).as("category"))
        .groupBy("period", "category").agg(count(lit(1)).as("cnt"))
      staged(f.stored().fold(part)(s => part.unionByName(s)
        .groupBy("period", "category").agg(sum(col("cnt")).as("cnt"))))
    }
  }

  /** [[refreshDriftLedger]] driven by Structured Streaming. */
  def streamingRefreshDriftLedger(rows: DataFrame, periodCol: String,
      catCol: String, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(rows, path)(refreshDriftLedger(_, _, periodCol,
      catCol, path))

  /** The maintained ledger: (period, category, cnt) — the highest
    * committed version. */
  def driftLedgerIndex(spark: SparkSession, path: String): DataFrame =
    new VersionedFold(spark, path, "drift ledger").latest()

  /** INCREMENTAL maintenance of a GROUP-BY-MAX gold table — the
    * reference's `nyc_salary_matches_unique_job_posting_title` CTAS
    * re-aggregates ALL of bronze on every weekly run; at 100 TB the
    * rollup must instead fold only the new batch: aggregate the
    * arriving rows to per-key partial MAXes (map-side combined,
    * batch-sized), merge with the stored rollup (one row per key —
    * OUTPUT-sized, the corpus is never rescanned), and commit a new
    * [[VersionedFold]] version.
    *
    * Discipline: MAX over every carried column is a SEMILATTICE merge
    * (associative, commutative, idempotent), so unlike the additive
    * CMS/drift folds a REPLAYED batch cannot corrupt the rollup even
    * without the batch-id guard — max(a, a) = a. The guard is kept
    * anyway: it makes replays free (skip instead of re-merge). NULL
    * keys drop (a NULL group key is SQL's one non-mergeable group; the
    * gold CTAS's GROUP BY would keep it as its own row, but bronze
    * titles are NOT NULL by construction and the gate's oracle
    * confirms the equality).
    *
    * `maxCols` values must be max-comparable under Spark's ordering
    * (numerics, strings, dates) — the same requirement the CTAS's MAX
    * has. Read back with [[maxRollupIndex]]; the stored table IS the
    * gold table. */
  def refreshMaxRollup(batch: DataFrame, batchId: Long,
      keyCols: Seq[String], maxCols: Seq[String], path: String): Refresh = {
    require(keyCols.nonEmpty && maxCols.nonEmpty,
      "refreshMaxRollup needs at least one key and one max column")
    val f = new VersionedFold(batch.sparkSession, path, "gold rollup")
    f.foldBatch(batchId) {
      val aggs = maxCols.map(c => max(col(c)).as(c))
      def rollup(df: DataFrame) =
        df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      val part = rollup(batch.where(keyCols.map(col(_).isNotNull).reduce(_ && _)))
      staged(f.stored().fold(part)(s => rollup(part.unionByName(s))))
    }
  }

  /** [[refreshMaxRollup]] driven by Structured Streaming. */
  def streamingRefreshMaxRollup(rows: DataFrame, keyCols: Seq[String],
      maxCols: Seq[String], path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(rows, path)(refreshMaxRollup(_, _, keyCols, maxCols,
      path))

  /** The maintained rollup (one row per key, current MAXes) — the
    * highest committed version. */
  def maxRollupIndex(spark: SparkSession, path: String): DataFrame =
    new VersionedFold(spark, path, "gold rollup").latest()

  // --------------------- maintained connected components (d19, r18)

  /** INCREMENTAL maintenance of the d8 near-dup component map — the
    * transitive-closure face a CONTINUOUSLY-FED dedup pipeline needs:
    * d8 recomputes large-star/small-star over every pair ever emitted,
    * but component merge is MONOTONE (new edges only ever join
    * components; the root is the member minimum), so each batch folds
    * against the stored roots instead:
    *
    *  1. CONTRACT each arriving edge to its endpoints' stored roots
    *     (unseen nodes contract to themselves); edges whose endpoints
    *     already share a root drop as self-loops — a re-emitted
    *     duplicate pair costs one join probe, nothing else;
    *  2. run [[graft.operators.Components.connectedComponents]] on the
    *     CONTRACTED graph — batch-sized: one node per touched
    *     component or arriving doc, never the corpus;
    *  3. REMAP the stored roots through the (old root → new root)
    *     merge map (merged-components-sized — broadcast scale) and
    *     append the batch's new nodes.
    *
    * Exactness: the root is min(member ids) and min is associative —
    * min(roots ∪ new ids) = min(all members) — so the maintained map
    * equals the from-scratch closure over every pair ever folded
    * EXACTLY (d8's oracle applies verbatim to d19; SilverIndexSpec
    * fuzzes edge chunkings incl. cross-batch bridge merges).
    *
    * Commit discipline: the batch-id guarded [[VersionedFold]] — and
    * like MAX, the fold is a semilattice (duplicate edges are absorbed
    * by contraction), so replays are harmless by algebra too. The
    * per-fold write is the roots table — output-sized (one row per
    * ever-seen node), never the pair log; a deployment whose node
    * count outgrows a comfortable rewrite buckets the table by
    * pmod(component) and rewrites only buckets holding a remapped
    * root (the merge map names them).
    *
    * Erasure: component merge cannot be subtracted (the map does not
    * know whether an erased doc was the bridge) — the [[resetSketch]]
    * rebuild-from-clean contract applies: erase the base pairs, reset
    * this artifact, re-fold the clean log. */
  def refreshComponents(pairs: DataFrame, batchId: Long, aCol: String,
      bCol: String, path: String): Refresh = {
    val f = new VersionedFold(pairs.sparkSession, path, "component map")
    f.foldBatch(batchId) {
      val e = pairs
        .select(col(aCol).as("__a"), col(bCol).as("__b"))
        .where(col("__a").isNotNull && col("__b").isNotNull &&
          col("__a") =!= col("__b"))
      f.stored() match {
        // an empty FIRST batch commits nothing (an empty roots version
        // has no parquet schema to read back); an empty later batch
        // folds through as identity below
        case None =>
          if (e.isEmpty) None
          else staged(graft.operators.Components
            .connectedComponents(e, "__a", "__b"))
        case Some(stored) =>
          val contracted = e
            .join(stored.select(col("node").as("__a"),
              col("component").as("__ra")), Seq("__a"), "left")
            .join(stored.select(col("node").as("__b"),
              col("component").as("__rb")), Seq("__b"), "left")
            .select(coalesce(col("__ra"), col("__a")).as("__ca"),
              coalesce(col("__rb"), col("__b")).as("__cb"))
            .where(col("__ca") =!= col("__cb"))
          // merge map over the contracted graph: (old root | new node) →
          // new root. Feeds the remap join AND the new-node join.
          val m = graft.operators.Components
            .connectedComponents(contracted, "__ca", "__cb")
            .localCheckpoint(true)
          val remapped = stored
            .join(m.select(col("node").as("component"),
              col("component").as("__nr")), Seq("component"), "left")
            .select(col("node"),
              coalesce(col("__nr"), col("component")).as("component"))
          // every new node survives contraction (it contracts to itself
          // and cannot equal a stored root), so the merge map covers it
          val newRoots = e.select(col("__a").as("node"))
            .unionByName(e.select(col("__b").as("node")))
            .distinct()
            .join(stored.select(col("node")), Seq("node"), "left_anti")
            .join(m, Seq("node"))
          staged(remapped.unionByName(newRoots))
      }
    }
  }

  /** The maintained component map (node → component root = min member
    * id) — the highest committed version. Nodes never named by a pair
    * are their own components and are not stored (the
    * [[graft.operators.Components.connectedComponents]] contract —
    * left-join + coalesce on the caller's side). */
  def componentsIndex(spark: SparkSession, path: String): DataFrame =
    new VersionedFold(spark, path, "component map").latest()

  /** [[refreshComponents]] driven by Structured Streaming — the
    * continuously-fed dedup-clustering face (near-dup pairs arrive
    * from [[streamingNearDupPairs]]-style emitters; each micro-batch
    * folds its edges at contracted-graph cost). */
  def streamingRefreshComponents(rows: DataFrame, aCol: String,
      bCol: String, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(rows, path)(refreshComponents(_, _, aCol, bCol, path))

  // ------------------------------ maintained SCD2 history (g6, r17)

  /** INCREMENTAL maintenance of an SCD TYPE-2 history — the g4/g5
    * composite: g5 maintains the SNAPSHOT from a change log, g4
    * rebuilds HISTORY from the full log every run; this folds each
    * change batch into a persisted history table instead (close the
    * open version, open the new one), so cost follows the change log —
    * the full log is never rescanned. Retires the reference's weekly
    * full-refetch chain at the history layer.
    *
    * Discipline: SCD2 close is NOT a semilattice (closing a version is
    * neither idempotent against replays nor order-free), so BOTH s9
    * guards are load-bearing: the batch-id guarded [[VersionedFold]]
    * makes a replayed batch a no-op, and a strictly-increasing
    * high-water mark on the change timestamps makes the fold EXACT — a
    * batch carrying a timestamp at or below the stored mark raises,
    * because an event older than an already-collapsed state cannot be
    * stitched without the full log (rebuild for out-of-order feeds).
    * Within those bounds the maintained history equals
    * [[graft.operators.Scd2.history]] over the concatenated log
    * EXACTLY — the batch-boundary stitch drops a batch's first version
    * when it repeats the stored current state (the cross-batch
    * collapse) and closes the stored current at the first surviving
    * batch version's effective_from; g4's oracle applies VERBATIM
    * (gate g6; Scd2IncrementalSpec fuzzes chunkings).
    *
    * Shuffles: one key-partitioned window over the BATCH (batch-sized),
    * one key join against the stored CURRENT segment (keys-sized), one
    * union — the [[refreshMaxRollup]] shape with a non-idempotent fold
    * guarded instead of assumed.
    *
    * Storage is the TWO-SEGMENT layout history needs at scale (unlike
    * a rollup, history grows monotonically, so a per-fold whole-table
    * rewrite would eventually pay for rows that can never change
    * again): every version a fold CLOSES appends to an immutable
    * `closed/batch=N` partition — written by idempotent per-batch
    * OVERWRITE, so a crashed fold's replay re-emits identically (the
    * s6 pairs-partition discipline) — while the keys-sized CURRENT
    * segment (one open version per key) is the only thing the
    * versioned commit rewrites. Crash windows: a crash before the
    * current-segment rename replays the whole fold against the
    * untouched previous current version and overwrites
    * `closed/batch=N` with the identical rows; a replay after the
    * rename no-ops on the batch-id guard with the closed partition
    * already durable. */
  def refreshScd2(batch: DataFrame, batchId: Long, keyCol: String,
      attrCols: Seq[String], tsCol: String, path: String): Refresh = {
    require(attrCols.nonEmpty, "refreshScd2 needs at least one attribute")
    val spark = batch.sparkSession
    val f = new VersionedFold(spark, path, "scd2 history")
    f.foldBatch(batchId) {
      // an orphaned closed/batch=N with last < N != batchId is a CRASHED
      // fold whose current-segment commit never landed, arriving now
      // under a DIFFERENT id: folding over it would close the same
      // stored-current versions twice with conflicting effective_to
      // values (and silently lose the crashed batch's rows once N <= the
      // new committed version un-hides the orphan in [[scd2Index]]).
      // Replaying the SAME id is the recovery path — the per-batch
      // overwrite re-emits identically — so N == batchId passes;
      // anything else raises before touching state.
      val fs = fsOf(spark, path)
      val closedDir = new Path(s"$path/closed")
      if (fs.exists(closedDir)) {
        val orphans = fs.listStatus(closedDir).map(_.getPath.getName)
          .filter(_.startsWith("batch="))
          .map(_.stripPrefix("batch=").toLong)
          .filter(n => n > f.last && n != batchId)
        require(orphans.isEmpty,
          s"refreshScd2: orphaned closed partition(s) batch=" +
            s"${orphans.sorted.mkString(",")} from a crashed fold — " +
            s"replay that batch id (the overwrite re-emits identically) " +
            s"or remove the partition; folding batch $batchId over it " +
            "would close the same stored versions twice")
      }
      val valid = batch.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      // an empty FIRST batch commits nothing (an empty-history version
      // would have no parquet schema to read back); an empty later batch
      // folds through as identity below
      if (f.last < 0 && valid.isEmpty) None
      else Some(scd2Fold(f, valid, batchId, keyCol, attrCols, tsCol, path))
    }
  }

  /** The stitch and staged writer of one [[refreshScd2]] fold. */
  private def scd2Fold(f: VersionedFold, valid: DataFrame, batchId: Long,
      keyCol: String, attrCols: Seq[String], tsCol: String,
      path: String): String => Unit = {
    // the batch history feeds BOTH segment writes (and, in the stitch,
    // the close-point aggregation too) — materialize it once instead
    // of re-running the batch window per consumer (it is
    // batch-transitions-sized by construction)
    val bh = graft.operators.Scd2
      .history(valid, keyCol, attrCols, tsCol).localCheckpoint(true)
    val attrs = struct(attrCols.map(col): _*)
    val (closedNew: DataFrame, currentNext: DataFrame) =
      f.stored("/history").fold(
        (bh.where(!col("is_current")), bh.where(col("is_current")))) {
        stored =>
          // the exactness guard: one broadcast-nested-loop probe of the
          // batch against the single-row mark, first violation suffices
          val viol = valid.join(broadcast(f.latest("/hwm")),
            col(tsCol) <= col("hwm")).limit(1).count()
          require(viol == 0L,
            s"refreshScd2: batch $batchId carries timestamps at or below " +
              "the stored high-water mark — the incremental fold needs " +
              "strictly increasing batch boundaries; rebuild from the " +
              "full log for out-of-order arrivals")
          val firstW = org.apache.spark.sql.expressions.Window
            .partitionBy(col(keyCol))
            .orderBy(col("effective_from") +: attrCols.map(col): _*)
          // the stored CURRENT segment holds exactly the open versions
          val cur = stored.select(col(keyCol), attrs.as("__cs"))
          // drop a batch's FIRST version when it repeats the stored
          // current state — Scd2.history marks every key's first batch
          // row as a change (lag sees NULL), but across the boundary it
          // is only a transition if the state actually moved
          val kept = bh
            .withColumn("__rn", row_number().over(firstW))
            .join(cur, Seq(keyCol), "left")
            .where(col("__rn") =!= 1 || col("__cs").isNull ||
              !(attrs <=> col("__cs")))
            .drop("__rn", "__cs")
            // consumed three times (closed rows, current rows, the
            // close-point aggregation) across two write actions
            .localCheckpoint(true)
          val closeAt = kept.groupBy(col(keyCol))
            .agg(min(col("effective_from")).as("__close"))
          // stored current rows superseded this batch → closed segment;
          // the rest stay current untouched
          val storedClosed = stored.join(closeAt, Seq(keyCol))
            .withColumn("effective_to", col("__close"))
            .drop("__close")
            .withColumn("is_current", lit(false))
          val storedStillCurrent =
            stored.join(closeAt, Seq(keyCol), "left_anti")
          (storedClosed.unionByName(kept.where(!col("is_current"))),
            storedStillCurrent.unionByName(kept.where(col("is_current"))))
      }
    val batchMax = valid.agg(max(col(tsCol)).as("hwm"))
    val hwmNext = f.stored("/hwm").fold(batchMax)(
      _.unionByName(batchMax).agg(max(col("hwm")).as("hwm")))
    // The four pre-commit writes — the closed partition, its high-water
    // manifest row (the [[scd2AsOf]] pruning sidecar: every row in
    // closed/batch=N has effective_to <= hwm_N), and the two staged
    // current-segment files — are mutually independent idempotent
    // overwrites into disjoint paths, ALL invisible to readers until
    // the rename commits, so they run as concurrent jobs instead of four
    // sequential tails. Any subset of the four can land before a crash;
    // every combination is either invisible (the staged version),
    // guarded (a closed orphan under a DIFFERENT next id raises), or
    // benign (a manifest row whose closed partition is absent prunes
    // nothing and reads zero rows), and replaying the SAME id rewrites
    // all four (Scd2IncrementalSpec's crash cases).
    tmp => graft.operators.Par.jobs(Seq(
      () => closedNew.write.mode("overwrite")
        .parquet(s"$path/closed/batch=$batchId"),
      () => hwmNext.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/closedhwm/batch=$batchId"),
      () => currentNext.write.mode("overwrite").parquet(s"$tmp/history"),
      () => hwmNext.coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/hwm")))
  }

  /** [[refreshScd2]] driven by Structured Streaming. */
  def streamingRefreshScd2(rows: DataFrame, keyCol: String,
      attrCols: Seq[String], tsCol: String, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchStream(rows, path)(refreshScd2(_, _, keyCol, attrCols, tsCol,
      path))

  /** The maintained history (one row per attribute version): the
    * immutable closed segments unioned with the highest committed
    * current segment. The `batch` partition column is bookkeeping, not
    * history — dropped on read. An orphaned `closed/batch=N` from a
    * fold that crashed before its current-segment commit is EXCLUDED
    * (N > the committed version): its rows would otherwise double with
    * the still-open versions the replay will close again. */
  def scd2Index(spark: SparkSession, path: String): DataFrame = {
    val f = new VersionedFold(spark, path, "scd2 history")
    val current = f.latest("/history")
    readIfData(spark, s"$path/closed")
      .map(_.where(col("batch") <= f.last).drop("batch")
        .unionByName(current))
      .getOrElse(current)
  }

  /** POINT-IN-TIME serve from the maintained SCD2 history (g7) — the
    * audit question the index exists for ("state of key K at time T")
    * answered WITHOUT the g4 reconstruction's full-log scan: versions
    * alive at `asOf` are `effective_from <= T < effective_to` (open
    * versions: effective_to null), and the two-segment layout prunes
    * almost everything —
    *  - the CURRENT segment is keys-sized (one open version per key);
    *  - closed segments prune by the per-batch high-water manifest:
    *    every row in closed/batch=N has effective_to <= hwm_N, so any
    *    batch with hwm_N <= T is entirely dead at T and its partition
    *    is never opened (a PartitionFilter on `batch`, PLANS.md pin —
    *    at 100 TB an audit at a recent T reads the recent batches +
    *    the current segment, not years of closed history).
    * Orphaned partitions (crashed folds) are excluded exactly as in
    * [[scd2Index]]; an index without manifests serves every committed
    * closed partition (row filters still apply — correct, just
    * unpruned). Equals the g4 rebuild filtered to T row-for-row (g7's
    * oracle). */
  def scd2AsOf(spark: SparkSession, path: String,
      asOf: Column): DataFrame = {
    val f = new VersionedFold(spark, path, "scd2 history")
    val t = asOf
    val current = f.latest("/history")
      .where(col("effective_from") <= t &&
        (col("effective_to").isNull || col("effective_to") > t))
    readIfData(spark, s"$path/closed").fold(current) { cl =>
      // driver-side dead-batch set from the tiny manifest (one row per
      // fold): committed batches whose hwm <= T hold only versions
      // already dead at T
      val dead: Seq[Long] = readIfData(spark, s"$path/closedhwm")
        .fold(Seq.empty[Long]) { m =>
          m.where(col("batch") <= f.last && col("hwm") <= t)
            .select(col("batch").cast("long")).collect()
            .map(_.getLong(0)).toSeq
        }
      val pruned =
        if (dead.isEmpty) cl.where(col("batch") <= f.last)
        else cl.where(col("batch") <= f.last &&
          !col("batch").isin(dead: _*))
      pruned.drop("batch")
        .where(col("effective_from") <= t && col("effective_to") > t)
        .unionByName(current)
    }
  }

  // ------------------------------------------------------------- erasure

  /** What an erasure fold did: rows removed / rows remaining. */
  final case class Erased(removed: Long, remaining: Long)

  /** Rewrite the table at `dirStr` through `transform` (an erasure
    * anti-join, or the identity for compaction) with a staged-swap
    * commit: the output lands in a staging dir, then two renames swap
    * it live — a crash leaves either the old or the new table, never a
    * half-deleted one, and a RERUN restores the surviving copy before
    * deleting anything. Both row counts ride Observations on the ONE
    * rewrite job (no separate count jobs); the row-count sidecar is
    * refreshed so later refreshes stay metadata-only.
    *
    * Scale shape: one scan + one broadcast anti-join + one write —
    * the erasure rewrite is a compaction with a filter, so it batches
    * (collect a compliance window's subjects, fold once) exactly like
    * the weekly refresh. With a doc-bucketed layout only buckets
    * holding subjects need rewriting; this fold rewrites the table
    * wholesale, the correct default for the list-partitioned and flat
    * artifacts here (subject docs scatter across every list/file). */
  private def rewriteSwap(spark: SparkSession, dirStr: String,
      partitionCols: Seq[String],
      shape: DataFrame => DataFrame = identity)(
      transform: DataFrame => DataFrame): Erased = {
    val live = new Path(dirStr)
    val fs = fsOf(spark, dirStr)
    val staging = new Path(dirStr + "__compacting")
    val retired = new Path(dirStr + "__retired")
    // crash recovery BEFORE any delete: a prior run that died between
    // its two renames leaves the live path empty with the only
    // surviving copies at __retired (the old table) and possibly
    // __compacting (the completed rewrite). Deleting those while the
    // live dir is missing would be permanent data loss; restore one of
    // them first. Preference: __retired (the known-good table; the
    // rerun below rewrites it anyway), else a staging dir — which is
    // only a valid recovery source when the live table is GONE, i.e.
    // the first rename committed, which implies the staging write
    // completed.
    if (!fs.exists(live)) {
      val src = if (fs.exists(retired)) retired
        else if (fs.exists(staging)) staging
        else throw new IllegalStateException(
          s"rewrite: no table at $live and nothing to recover")
      require(fs.rename(src, live),
        s"rewrite: could not restore $src to $live")
    }
    fs.delete(staging, true); fs.delete(retired, true)
    val obsB = org.apache.spark.sql.Observation()
    val obsK = org.apache.spark.sql.Observation()
    val src = spark.read.parquet(dirStr)
      .observe(obsB, count(lit(1)).as("n"))
    val out = shape(transform(src).observe(obsK, count(lit(1)).as("n")))
    val w = out.write
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(staging.toString)
    require(fs.rename(live, retired), s"rewrite: could not retire $live")
    require(fs.rename(staging, live),
      s"rewrite: could not activate $staging — old table at $retired")
    fs.delete(retired, true)
    val before = obsB.get("n").asInstanceOf[Long]
    val kept = obsK.get("n").asInstanceOf[Long]
    writeMetaRows(fs, dirStr, kept)
    Erased(before - kept, kept)
  }

  private def eraseKeyed(spark: SparkSession, dirStr: String,
      keyCol: String, subjects: DataFrame, subjectCol: String,
      partitionCols: Seq[String] = Nil,
      shape: DataFrame => DataFrame = identity): Erased = {
    val subj = broadcast(
      subjects.select(col(subjectCol).as("__s")).distinct())
    rewriteSwap(spark, dirStr, partitionCols, shape)(df =>
      df.join(subj, df(keyCol) === col("__s"), "left_anti"))
  }

  /** Right-to-ERASURE for the postings index — the delete path the
    * append-only [[refreshPostings]] lacks (GDPR asks "and the
    * indexes?", not just the base tables: an erased subject's tokens
    * otherwise sit in the postings forever). Drops every posting AND
    * doc-length row whose doc is a subject, then rewrites the stats
    * sidecar from the surviving doc lengths, so served BM25 scores
    * (N, avgLen, df) immediately reflect the smaller corpus — exactly
    * what a from-scratch build over the erased base would serve.
    * Postings rewrite first: a crash before the doclen rewrite leaves
    * the meta fingerprint stale and [[ensureBm25Aux]] rebuilds the
    * companion from the already-erased postings — the recovery path
    * that keeps the pair consistent under any interleaving. */
  def erasePostings(spark: SparkSession, path: String,
      subjects: DataFrame, subjectCol: String): Erased = {
    // an index whose companion was never built has no doclen dir for
    // the rewrite below to swap — materialize it first; idempotent and
    // metadata-cheap when the sidecar is already fresh
    ensureBm25Aux(spark, path)
    val r = eraseKeyed(spark, path, "doc", subjects, subjectCol,
      shape = _.sortWithinPartitions(col("term")))
    eraseKeyed(spark, doclenPath(path), "doc", subjects, subjectCol)
    // readIfData: a FULL-corpus erasure leaves a dir with no data files
    // (empty writes emit no part files), which schema inference rejects
    val st = readIfData(spark, doclenPath(path)).fold(Bm25Stats(0L, 0L)) {
      dl =>
        val row = dl.agg(count(lit(1)), coalesce(sum(col("len")), lit(0L)))
          .head()
        Bm25Stats(row.getLong(0), row.getLong(1))
    }
    writeBm25Meta(fsOf(spark, path), path, st)
    r
  }

  /** Erasure for the MinHash signature table: the subject's signature
    * rows drop, so [[minhashPairs]] over the index can never emit a
    * pair naming an erased doc again. */
  def eraseMinhash(spark: SparkSession, path: String,
      subjects: DataFrame, subjectCol: String): Erased =
    eraseKeyed(spark, path, "doc", subjects, subjectCol)

  /** Erasure for the frame-fingerprint table (m9): the subject's frame
    * rows drop, so [[framePairs]] can never pair an erased doc
    * again — the same doc-keyed staged-swap anti-join as
    * [[eraseMinhash]]. */
  def eraseFingerprints(spark: SparkSession, path: String,
      subjects: DataFrame, subjectCol: String): Erased =
    eraseKeyed(spark, path, "doc", subjects, subjectCol)

  /** Erasure for the edit-pair variant-key table (d18): the subject's
    * variant rows drop, so [[editPairsFromIndex]] can never emit a
    * pair naming an erased key again — the same doc-keyed staged-swap
    * anti-join as [[eraseMinhash]]. */
  def eraseEditIndex(spark: SparkSession, path: String,
      subjects: DataFrame, subjectCol: String): Erased =
    eraseKeyed(spark, path, "doc", subjects, subjectCol)

  /** Erasure for the containment shingle-hash table (d20): the
    * subject's per-doc row drops, so [[containmentPairsFromIndex]] can
    * never post or verify an erased doc again — the same doc-keyed
    * staged-swap anti-join as [[eraseMinhash]]. */
  def eraseContainmentIndex(spark: SparkSession, path: String,
      subjects: DataFrame, subjectCol: String): Erased =
    eraseKeyed(spark, path, "doc", subjects, subjectCol)

  /** Erasure for the IVF assignment table (the frozen quantizer keeps
    * only aggregate centroids — nothing per-subject survives there,
    * the standard DP/GDPR aggregate carve-out; document it in the
    * release): subject vectors leave every probe's candidate lists. */
  def eraseIvf(spark: SparkSession, path: String,
      subjects: DataFrame, subjectCol: String): Erased =
    eraseKeyed(spark, asgPath(path), "neighbor_id", subjects, subjectCol,
      partitionCols = Seq("list_id"),
      shape = _.repartition(col("list_id")))

  /** Erasure for the IVF-PQ code table — as [[eraseIvf]] (the frozen
    * codebooks, like the centroids, hold only k-means aggregates).
    * [[ivfPqTopKFromIndex]]'s exact-rescore side reads the BASE corpus
    * the caller passes — erase that table first
    * ([[graft.operators.Privacy.erase]], step 1 of the protocol) and
    * the rescore is clean by construction. */
  def eraseIvfPq(spark: SparkSession, path: String,
      subjects: DataFrame, subjectCol: String): Erased =
    eraseKeyed(spark, codesPath(path), "neighbor_id", subjects,
      subjectCol, partitionCols = Seq("list_id"),
      shape = _.repartition(col("list_id")))

  /** REBUILD-FROM-CLEAN contract for the VersionedFold artifacts. The
    * maintained KMV minima, Bloom positions, and HLL registers are
    * MONOTONE folds (truncated union / set union / per-bucket max) and
    * CMS counters are additive without per-key attribution — none can
    * subtract a subject's contribution, mathematically: the sketch does
    * not know whether an erased key was the one that set a register.
    * Erasure for these artifacts is therefore: (1) erase the BASE
    * table ([[graft.operators.Privacy.erase]]), (2) `resetSketch` the
    * maintained state (this call — one recursive delete of the sketch
    * home, including its streaming checkpoint so a re-fold starts a
    * fresh transaction log), (3) re-fold the CLEAN corpus through the
    * same refresh. The rebuilt sketch is bit-identical to one that
    * never saw the subject (every fold here is deterministic in its
    * input set), which is a STRONGER guarantee than any subtraction
    * could give. Cost is one corpus pass per compliance window —
    * batch the window's subjects, reset once. */
  def resetSketch(spark: SparkSession, path: String): Unit = {
    fsOf(spark, path).delete(new Path(path), true)
    ()
  }

  // ----------------------------------------------------- compaction / stats

  /** Index-health report for an IVF assignment table: list/row/file
    * fragmentation and list-size imbalance. `filesPerList` grows by one
    * per delta refresh per touched list (appends never rewrite), so a
    * long-lived streaming index fragments; `imbalance` (max list rows /
    * mean list rows) drifts as the frozen quantizer ages away from the
    * data distribution. `rebuildRecommended` flags imbalance past
    * `imbalanceThreshold` — the FAISS-style re-train decision, surfaced
    * as a measurement instead of folklore. */
  final case class IvfStats(lists: Long, rows: Long, files: Long,
      maxListRows: Long, meanListRows: Double, imbalance: Double,
      filesPerList: Double, rebuildRecommended: Boolean)

  def ivfStats(spark: SparkSession, path: String,
      imbalanceThreshold: Double = 4.0): IvfStats =
    listTableStats(spark, asgPath(path), imbalanceThreshold)

  /** [[ivfStats]] for the IVF-PQ code table — same layout contract
    * (`list_id`-partitioned appends), same fragmentation/imbalance
    * failure modes. */
  def ivfPqStats(spark: SparkSession, path: String,
      imbalanceThreshold: Double = 4.0): IvfStats =
    listTableStats(spark, codesPath(path), imbalanceThreshold)

  private def listTableStats(spark: SparkSession, dir: String,
      imbalanceThreshold: Double): IvfStats = {
    val byList = spark.read.parquet(dir)
      .groupBy(col("list_id")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("lists"), sum(col("n")).as("rows"),
        max(col("n")).as("maxN"))
      .head()
    val (lists, rows, maxN) =
      (byList.getLong(0), Option(byList.get(1)).fold(0L)(_ => byList.getLong(1)),
        Option(byList.get(2)).fold(0L)(_ => byList.getLong(2)))
    val files = dataStats(fsOf(spark, dir), new Path(dir))._1
    val mean = if (lists == 0) 0.0 else rows.toDouble / lists
    val imb = if (mean == 0.0) 0.0 else maxN / mean
    IvfStats(lists, rows, files, maxN, mean, imb,
      if (lists == 0) 0.0 else files.toDouble / lists,
      rebuildRecommended = imb > imbalanceThreshold)
  }

  /** What a maintenance sweep decided and did. `stats` is the pre-sweep
    * measurement the decisions were made on. */
  final case class Maintenance(stats: IvfStats, compacted: Boolean,
      rebuilt: Boolean)

  /** The index-lifecycle decisions as ONE cron-able measured sweep — the
    * last manual step ([[IvfStats.rebuildRecommended]], compact-on-
    * fragmentation) turned into code, in the priority order that
    * matters:
    *
    *  1. imbalance past `imbalanceThreshold` → REBUILD: the frozen
    *     quantizer has drifted from the data distribution, so compacting
    *     its lists would just defragment a bad layout. The index dirs
    *     drop and [[refreshIvf]] re-trains from the CURRENT corpus (the
    *     FAISS re-train decision, now fired by the measurement that
    *     motivates it); the per-path quantizer cache misses by
    *     fingerprint construction.
    *  2. fragmentation past `filesPerListThreshold` → [[compactIvf]]
    *     (crash-safe staged swap; sidecar re-derived from the rewrite).
    *  3. healthy → measure only.
    *
    * Wire it to a [[Scheduler]]/[[Cron]] cadence for the reference's
    * weekly rhythm; each sweep costs one stats aggregation unless it
    * acts. */
  def maintainIvf(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, path: String, imbalanceThreshold: Double = 4.0,
      filesPerListThreshold: Double = 10.0): Maintenance = {
    val spark = corpus.sparkSession
    val stats = ivfStats(spark, path, imbalanceThreshold)
    if (stats.rebuildRecommended) {
      val fs = fsOf(spark, path)
      fs.delete(new Path(asgPath(path)), true)
      fs.delete(new Path(centPath(path)), true)
      refreshIvf(corpus, idCol, vecCol, nlist, path)
      Maintenance(stats, compacted = false, rebuilt = true)
    } else if (stats.filesPerList > filesPerListThreshold) {
      compactIvf(spark, path)
      Maintenance(stats, compacted = true, rebuilt = false)
    } else Maintenance(stats, compacted = false, rebuilt = false)
  }

  /** Rewrite the IVF assignment table into one sized file per list,
    * undoing append fragmentation (every delta refresh adds a file per
    * touched list — a weekly-refreshed index accumulates refreshes ×
    * nlist objects). Same rows, same layout contract
    * (`list_id`-partitioned), one narrow shuffle, committed by the
    * [[rewriteSwap]] staged swap — a crash leaves either the old or the
    * new table, and a RERUN after a crash between the renames restores
    * the surviving copy before deleting anything (SilverIndexSpec pins
    * the recovery).
    *
    * What compaction buys is the METADATA path: listing/open cost per
    * probe and per refresh (the anti-join lists every file, every run —
    * and object stores bill and throttle per request). A compute-bound
    * probe's wall time is unchanged: tools/compaction_smoke_r7.txt
    * measures 640 → 64 files with identical probe results and parity
    * wall at 1M vectors, where 125M cosine evals dwarf local file
    * opens. Compact on `filesPerList`, not on probe latency. */
  def compactIvf(spark: SparkSession, path: String): Unit =
    compactListTable(spark, asgPath(path))

  /** [[compactIvf]] for the IVF-PQ code table. */
  def compactIvfPq(spark: SparkSession, path: String): Unit =
    compactListTable(spark, codesPath(path))

  private def compactListTable(spark: SparkSession, dirStr: String): Unit = {
    rewriteSwap(spark, dirStr, Seq("list_id"),
      _.repartition(col("list_id")))(identity)
    ()
  }

  /** [[maintainIvf]] for the IVF-PQ index: rebuild on measured drift
    * drops BOTH frozen quantizers (coarse centroids and residual
    * codebooks) with the code table and retrains from the current
    * corpus; fragmentation compacts the code table in place. */
  def maintainIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, ksub: Int, path: String,
      imbalanceThreshold: Double = 4.0,
      filesPerListThreshold: Double = 10.0): Maintenance = {
    val spark = corpus.sparkSession
    val stats = ivfPqStats(spark, path, imbalanceThreshold)
    if (stats.rebuildRecommended) {
      val fs = fsOf(spark, path)
      fs.delete(new Path(codesPath(path)), true)
      fs.delete(new Path(bookPath(path)), true)
      fs.delete(new Path(centPath(path)), true)
      refreshIvfPq(corpus, idCol, vecCol, nlist, m, ksub, path)
      Maintenance(stats, compacted = false, rebuilt = true)
    } else if (stats.filesPerList > filesPerListThreshold) {
      compactIvfPq(spark, path)
      Maintenance(stats, compacted = true, rebuilt = false)
    } else Maintenance(stats, compacted = false, rebuilt = false)
  }
}
