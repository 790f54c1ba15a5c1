package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.{Dedup, Sketches}

/** CRASH INJECTION for the two exactly-once commit protocols, plus the
  * KMV versioned commit that reuses the second one. The end-to-end
  * streaming specs prove replay idempotence on the happy path; these
  * hand-build the HALF-COMMITTED directory a crash would leave at each
  * window and drive the recovery (replay) path directly:
  *
  *  - s6 transaction intent ([[SilverIndex.nearDupBatch]]): crash after
  *    the intent commit but before the signature append; crash after
  *    the append but before the pair write (the window the intent file
  *    exists for); crash MID-intent-write (dir exists, only hidden
  *    `_temporary` debris inside — the fs.exists-vs-hasDataFiles bug).
  *  - s9 versioned rename ([[SilverIndex.refreshCms]]): crash after
  *    staging `_tmp_v<id>` but before the rename; crash after the
  *    rename but before retiring superseded versions.
  *  - [[SilverIndex.refreshKmv]] (same stage-then-rename discipline):
  *    an orphan `_tmp_v` never corrupts the fold, and a committed
  *    version survives every window (the in-place-overwrite bug lost
  *    the sole copy on a crash mid-write).
  *  - the same two windows for every other versioned fold (Bloom, the
  *    drift ledger, the max rollup, components) as rows of one
  *    table-driven case.
  */
class CrashRecoverySpec extends SparkTestBase {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ----------------------------------------------------------- s6 intent

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta iota"),
    (3L, "totally different words here nothing shared at all"),
    (4L, "alpha beta gamma delta epsilon zeta eta theta"),
    (5L, "one more unrelated document with its own tokens"))

  private def runBatch(root: String, id: Long, rows: Seq[(Long, String)])
      : Unit =
    SilverIndex.nearDupBatch(rows.toDF("doc_id", "text"), id,
      "doc_id", "text", n = 2, numHashes = 64, rowsPerBand = 4,
      theta = 0.5, s"$root/sig", s"$root/pairs")

  private def pairsAt(root: String): Set[(Long, Long)] =
    spark.read.parquet(s"$root/pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private lazy val scratchPairs: Set[(Long, Long)] =
    Dedup.minhashLshPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        n = 2, numHashes = 64, rowsPerBand = 4, theta = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The intent frame exactly as the operator derives it: the batch's
    * ids anti-joined against the current signature table. */
  private def intentFor(root: String, rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text").select(col("doc_id").as("doc")).distinct()
      .join(spark.read.parquet(s"$root/sig").select("doc"),
        Seq("doc"), "left_anti")

  test("s6 crash after intent commit, before signature append: replay completes") {
    val root = tmp("crash-s6-a")
    runBatch(root, 0L, docs.take(3))
    // hand-built crash state: batch 1's intent is durable, NOTHING else
    // of batch 1 happened
    intentFor(root, docs.drop(3))
      .write.parquet(s"$root/sig/_intent/batch1")
    runBatch(root, 1L, docs.drop(3)) // the replay
    assert(pairsAt(root) == scratchPairs)
    assert(spark.read.parquet(s"$root/sig").count() == docs.size)
  }

  test("s6 crash after signature append, before pair write: intent saves the pairs") {
    val root = tmp("crash-s6-b")
    runBatch(root, 0L, docs.take(3))
    // hand-built crash state: intent durable AND signatures appended,
    // pairs never written — without the stored intent the replay's
    // anti-join against the already-appended signatures would find
    // nothing new and batch 1's pairs would be lost forever
    intentFor(root, docs.drop(3))
      .write.parquet(s"$root/sig/_intent/batch1")
    SilverIndex.refreshMinhash(docs.drop(3).toDF("doc_id", "text"),
      "doc_id", "text", 2, 64, s"$root/sig")
    runBatch(root, 1L, docs.drop(3)) // the replay
    assert(pairsAt(root) == scratchPairs,
      "batch 1's pairs were lost across the append/emit crash window")
    assert(spark.read.parquet(s"$root/sig").count() == docs.size,
      "replay duplicated signatures")
  }

  test("s6 crash MID-intent-write: hidden debris re-derives, never reads") {
    val root = tmp("crash-s6-c")
    runBatch(root, 0L, docs.take(3))
    // hand-built crash state: the intent dir exists but holds only the
    // writer's hidden _temporary subtree — no committed data files.
    // An existence check would read this as a durable intent and fail
    // (or read an empty id set, silently dropping the batch).
    val debris = java.nio.file.Paths
      .get(root, "sig", "_intent", "batch1", "_temporary", "0")
    java.nio.file.Files.createDirectories(debris)
    java.nio.file.Files.createFile(debris.resolve("task-attempt.tmp"))
    runBatch(root, 1L, docs.drop(3)) // the replay
    assert(pairsAt(root) == scratchPairs)
    assert(spark.read.parquet(s"$root/sig/_intent/batch1")
      .collect().map(_.getLong(0)).toSet == Set(4L, 5L),
      "partial intent was not rewritten with the derived id set")
  }

  test("s6 crash after intent STAGED, before rename: replay re-derives") {
    val root = tmp("crash-s6-d")
    runBatch(root, 0L, docs.take(3))
    // hand-built crash state: the intent's stage dir was written but
    // the atomic rename never happened — and worse, the staged content
    // is STALE (only id 4, not the true {4, 5}), as if the crashed
    // attempt raced a partial state. The replay must ignore the stage
    // dir entirely (only the renamed dir is the commit) and re-derive.
    Seq(4L).toDF("doc").write.parquet(s"$root/sig/_intent/_tmp_batch1")
    runBatch(root, 1L, docs.drop(3)) // the replay
    assert(pairsAt(root) == scratchPairs)
    assert(spark.read.parquet(s"$root/sig/_intent/batch1")
      .collect().map(_.getLong(0)).toSet == Set(4L, 5L),
      "replay trusted the un-renamed stage dir")
  }

  test("d18 crash after variant append, before pair write: the stored " +
      "intent saves the batch's pairs (the load-bearing s6 window on " +
      "the edit face)") {
    val root = tmp("crash-d18")
    val names = Seq((1L, "analyst"), (2L, "analist"), (3L, "manager"),
      (4L, "analyst"))
    def runEditBatch(id: Long, rows: Seq[(Long, String)]): Unit =
      SilverIndex.editPairsBatch(rows.toDF("id", "name"), id, "id",
        "name", 1, Long.MaxValue, s"$root/sig", s"$root/pairs")
    runEditBatch(0L, names.take(2))
    // hand-built crash state: batch 1's intent durable AND its variants
    // appended, pairs never written — without the intent the replay's
    // anti-join against the appended variants would find nothing new
    names.drop(2).toDF("id", "name").select(col("id").as("doc"))
      .distinct()
      .join(spark.read.parquet(s"$root/sig").select("doc"),
        Seq("doc"), "left_anti")
      .write.parquet(s"$root/sig/_intent/batch1")
    SilverIndex.refreshEditIndex(names.drop(2).toDF("id", "name"),
      "id", "name", 1, s"$root/sig")
    runEditBatch(1L, names.drop(2)) // the replay
    val got = spark.read.parquet(s"$root/pairs")
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.operators.Dedup
      .editPairs(names.toDF("id", "name"), "id", "name", 1)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"batch 1's pairs were lost across the append/emit window: $got")
    assert(spark.read.parquet(s"$root/sig").count() ==
      graft.operators.Dedup.editVariantKeys(
        names.toDF("id", "name"), "id", "name", 1).count(),
      "replay duplicated variant rows")
  }

  // ------------------------------------------------------- s9 versioned

  private def cmsCounters(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap

  test("s9 crash after staging _tmp, before rename: orphan is overwritten") {
    val path = tmp("crash-s9-a") + "/cms"
    val b0 = (0 until 600).map(i => i % 37).toDF("k")
    val b1 = (600 until 1000).map(i => i % 37).toDF("k")
    SilverIndex.refreshCms(b0, 0L, "k", width = 16, depth = 3, path)
    // hand-built crash state: batch 1 staged its version dir but died
    // before the rename — an orphan _tmp_v1 with plausible content
    spark.read.parquet(s"$path/v0")
      .write.parquet(s"$path/_tmp_v1")
    val r = SilverIndex.refreshCms(b1, 1L, "k", 16, 3, path) // replay
    assert(r.appended == 1L)
    val all = ((0 until 600) ++ (600 until 1000)).map(i => i % 37).toDF("k")
    assert(cmsCounters(SilverIndex.cmsIndex(spark, path)) ==
      cmsCounters(Sketches.cmsBuild(all, "k", 16, 3)
        .select(col("row"), col("bucket"), col("cnt"))),
      "orphan _tmp corrupted the fold")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_tmp_v1")))
  }

  test("s9 crash after rename, before retirement: reader takes max, next fold retires") {
    val path = tmp("crash-s9-b") + "/cms"
    val b0 = (0 until 600).map(i => i % 37).toDF("k")
    val b1 = (600 until 1000).map(i => i % 37).toDF("k")
    val b2 = (0 until 50).map(i => i % 37).toDF("k")
    SilverIndex.refreshCms(b0, 0L, "k", 16, 3, path)
    val v0 = cmsCounters(spark.read.parquet(s"$path/v0"))
    SilverIndex.refreshCms(b1, 1L, "k", 16, 3, path)
    // hand-built crash state: v1's rename committed but v0 was never
    // retired — recreate the stale version alongside the new one
    v0.toSeq.map { case ((row, bucket), cnt) => (row, bucket, cnt) }
      .toDF("row", "bucket", "cnt").write.parquet(s"$path/v0")
    // the reader must serve the HIGHEST committed version
    val all01 = ((0 until 600) ++ (600 until 1000)).map(i => i % 37).toDF("k")
    assert(cmsCounters(SilverIndex.cmsIndex(spark, path)) ==
      cmsCounters(Sketches.cmsBuild(all01, "k", 16, 3)
        .select(col("row"), col("bucket"), col("cnt"))),
      "stale surviving version shadowed the committed one")
    // and the next fold reads max, commits, and retires BOTH old dirs
    SilverIndex.refreshCms(b2, 2L, "k", 16, 3, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(_.startsWith("v")).toSet
    assert(versions == Set("v2"), s"stale versions survived: $versions")
  }

  // ------------------------------------------------------ HLL versioned

  private def hllRegs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet

  test("HLL fold survives an orphan _tmp, an unretired stale version, " +
      "and commits nothing on an empty first fold") {
    val path = tmp("crash-hll")
    val b0 = (0 until 600).map(i => ("g", (i % 211).toLong)).toDF("g", "k")
    val b1 = (600 until 1000).map(i => ("g", (i % 307).toLong)).toDF("g", "k")

    // empty first fold: no unreadable v0 (the KMV r14 fix's contract)
    SilverIndex.refreshHll(b0.where(lit(false)), Seq("g"), "k", path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/hll/v0")),
      "an empty fold must not commit an unreadable version")

    SilverIndex.refreshHll(b0, Seq("g"), "k", path)
    // v0's (b0-only) registers, kept to rebuild the stale version below
    val v0Rows = spark.read.parquet(s"$path/hll/v0").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    // crash window 1: a later fold staged its dir but died pre-rename
    spark.read.parquet(s"$path/hll/v0")
      .write.parquet(s"$path/hll/_tmp_v1")
    SilverIndex.refreshHll(b1, Seq("g"), "k", path)
    val whole = hllRegs(Sketches.hllBuild(b0.unionByName(b1), Seq("g"), "k"))
    assert(hllRegs(SilverIndex.hllIndex(spark, path)) == whole,
      "orphan _tmp corrupted the max-merge fold")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/hll/_tmp_v1")))

    // crash window 2: a superseded version was never retired — the
    // reader must serve the MAX version (the recreated v0 carries the
    // older, DIFFERENT b0-only registers, so a wrong read is visible)
    v0Rows.toDF("g", "bucket", "reg").write.parquet(s"$path/hll/v0")
    assert(hllRegs(SilverIndex.hllIndex(spark, path)) == whole,
      "a stale surviving version shadowed the committed one")
    SilverIndex.refreshHll(b0.limit(5), Seq("g"), "k", path)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/hll"))
      .map(_.getPath.getName).filter(_.startsWith("v")).toSet
    assert(versions == Set("v2"), s"stale versions survived: $versions")
    assert(hllRegs(SilverIndex.hllIndex(spark, path)) == whole,
      "replaying already-folded rows changed the registers")
  }

  // ------------------------------------------------------ KMV versioned

  test("KMV: an empty first fold commits nothing instead of an unreadable v0") {
    val path = tmp("crash-kmv-empty")
    val r = SilverIndex.refreshKmv(
      Seq.empty[(String, Long)].toDF("grp", "key"),
      "grp", "key", k = 16, path = path)
    assert(r.appended == 0)
    // no version dir exists — the next (non-empty) fold starts clean
    intercept[IllegalArgumentException](SilverIndex.kmvIndex(spark, path))
    SilverIndex.refreshKmv(
      (0L until 50L).map(i => ("g", i)).toDF("grp", "key"),
      "grp", "key", k = 16, path = path)
    assert(SilverIndex.kmvIndex(spark, path).count() == 1L)
  }

  test("KMV fold survives an orphan _tmp and always keeps a committed copy") {
    val path = tmp("crash-kmv")
    val rows = (0L until 300L).map(i => (s"g${i % 3}", i % 97))
    SilverIndex.refreshKmv(rows.take(200).toDF("grp", "key"),
      "grp", "key", k = 16, path = path)
    // a committed version exists the moment the first fold returns —
    // the in-place overwrite had a window with ZERO copies on disk
    val afterFirst = SilverIndex.kmvIndex(spark, path).count()
    assert(afterFirst == 3L)
    // hand-built crash state: the next fold staged but never renamed
    SilverIndex.kmvIndex(spark, path)
      .write.parquet(s"$path/sketch/_tmp_v1")
    // the sole committed copy is still served
    assert(SilverIndex.kmvIndex(spark, path).count() == 3L)
    // and the replayed fold overwrites the orphan and commits cleanly
    SilverIndex.refreshKmv(rows.toDF("grp", "key"),
      "grp", "key", k = 16, path = path)
    def sketchSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        r.getSeq[String](1).toVector).toMap
    val batch = Sketches.kmvDistinct(rows.toDF("grp", "key"),
        Seq("grp"), "key", k = 16)
      .select(col("grp"), col("kmins"))
    assert(sketchSet(SilverIndex.kmvIndex(spark, path)) ==
      sketchSet(batch))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/sketch"))
      .map(_.getPath.getName).toSet
    assert(entries == Set("v1"), s"unexpected sketch dir contents: $entries")
  }

  // ------------------------------------ every other VersionedFold artifact

  /** One VersionedFold artifact under crash injection: `fold(path, i)`
    * folds batch i of three, `state` reads what the artifact serves,
    * `whole` is the from-scratch state over all three batches, and
    * `root` is the directory holding its `v<n>` versions. */
  private final case class FoldCase(name: String, root: String => String,
      fold: (String, Int) => Unit, state: String => Set[Seq[Any]],
      whole: () => Set[Seq[Any]])

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def thirds[T](rows: Seq[T], i: Int): Seq[T] =
    rows.grouped((rows.size + 2) / 3).toSeq(i)

  private val bloomKeys = (0 until 600).map(i => (i * 7919 % 2003).toLong)
  private val driftRows = (0 until 900).map(i => (s"p${i % 4}", s"c${i % 3}"))
  private val rollupRows =
    (0 until 900).map(i => (s"k${i % 17}", i.toLong, (i * 7 % 101).toLong))
  private val edgeBatches = Seq(Seq((1L, 2L), (3L, 4L), (10L, 11L)),
    Seq((2L, 3L), (20L, 21L)), Seq((11L, 20L), (5L, 6L)))

  private val foldCases = Seq(
    FoldCase("Bloom", p => s"$p/bloom",
      (p, i) => SilverIndex.refreshBloom(thirds(bloomKeys, i).toDF("k"), "k",
        numHashes = 3, mBits = 4096, p),
      p => rowSet(SilverIndex.bloomIndex(spark, p).select("pos")),
      () => rowSet(Sketches.bloomBuild(bloomKeys.toDF("k"), "k", 3, 4096))),
    FoldCase("drift ledger", identity,
      (p, i) => SilverIndex.refreshDriftLedger(
        thirds(driftRows, i).toDF("period", "cat"), i.toLong, "period",
        "cat", p),
      p => rowSet(SilverIndex.driftLedgerIndex(spark, p)
        .select("period", "category", "cnt")),
      () => rowSet(driftRows.toDF("period", "category")
        .groupBy("period", "category").agg(count(lit(1)).as("cnt")))),
    FoldCase("max rollup", identity,
      (p, i) => SilverIndex.refreshMaxRollup(
        thirds(rollupRows, i).toDF("key", "a", "b"), i.toLong, Seq("key"),
        Seq("a", "b"), p),
      p => rowSet(SilverIndex.maxRollupIndex(spark, p).select("key", "a", "b")),
      () => rowSet(rollupRows.toDF("key", "a", "b").groupBy("key")
        .agg(max("a").as("a"), max("b").as("b")))),
    FoldCase("components", identity,
      (p, i) => SilverIndex.refreshComponents(edgeBatches(i).toDF("a", "b"),
        i.toLong, "a", "b", p),
      p => rowSet(SilverIndex.componentsIndex(spark, p)
        .select("node", "component")),
      () => rowSet(graft.operators.Components.connectedComponents(
        edgeBatches.flatten.toDF("a", "b"), "a", "b")
        .select("node", "component"))))

  test("Bloom, drift ledger, max rollup and components folds survive an " +
      "orphan _tmp and an unretired stale version") {
    foldCases.foreach { c =>
      val path = tmp(s"crash-fold-${c.name.replace(' ', '-')}")
      val root = c.root(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      c.fold(path, 0)
      val v0 = spark.read.parquet(s"$root/v0")
      val (v0Rows, v0Schema) = (v0.collect(), v0.schema)

      // crash window 1: the next fold staged its version but died
      // before the rename — an orphan _tmp_v1 with plausible content
      v0.write.parquet(s"$root/_tmp_v1")
      c.fold(path, 1) // the replay
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_tmp_v1")),
        s"${c.name}: the orphan _tmp_v1 survived the replay")
      val afterOne = c.state(path)

      // crash window 2: v1's rename committed but v0 was never retired —
      // recreate the older, DIFFERENT state so a wrong read is visible
      spark.createDataFrame(java.util.Arrays.asList(v0Rows: _*), v0Schema)
        .write.parquet(s"$root/v0")
      assert(rowSet(spark.read.parquet(s"$root/v0")) != afterOne,
        s"${c.name}: batch 1 did not change the state")
      assert(c.state(path) == afterOne,
        s"${c.name}: a stale surviving version shadowed the committed one")

      // the next fold reads the highest version, commits, and retires
      // both older ones
      c.fold(path, 2)
      val versions = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).filter(_.matches("v[0-9]+")).toSet
      assert(versions == Set("v2"), s"${c.name}: stale versions: $versions")
      assert(c.state(path) == c.whole(),
        s"${c.name}: the folded state diverged from the from-scratch build")
    }
  }

  test("erasePostings crash between the postings and doclen rewrites: " +
      "the stale companion is rebuilt from the erased postings") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("graft-crash-erase").toString + "/post"
    SilverIndex.refreshPostings(docs, "doc_id", "text", path)
    val subjects = docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("s"))
    val subjIds = subjects.collect().map(_.getLong(0)).toSet

    // snapshot the PRE-erase doclen companion (what a crash between
    // the two rewrites leaves behind: postings erased, doclen not)
    val dl = s"${path.stripSuffix("/")}__doclen"
    val dlSnapshot = spark.read.parquet(dl).collect()
    val dlSchema = spark.read.parquet(dl).schema

    SilverIndex.erasePostings(spark, path, subjects, "s")

    // hand-build the crash state: restore the stale pre-erase doclen
    // and delete the stats sidecar (a crash before writeBm25Meta)
    val fs = new org.apache.hadoop.fs.Path(dl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dl), true)
    spark.createDataFrame(
        java.util.Arrays.asList(dlSnapshot: _*), dlSchema)
      .write.parquet(dl)

    // the meta fingerprint cannot validate (fresh doclen write, erased
    // postings) → ensureBm25Aux rebuilds the companion from the ERASED
    // postings, and the served index equals the clean-corpus operator
    val d = docs
    val clean = d.join(subjects, d("doc_id") === col("s"), "left_anti")
    def normalized(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), math.rint(r.getDouble(1) * 1e6) / 1e6, r.getInt(2)))
        .toSet
    val served = SilverIndex.bm25TopKFromIndex(spark, path,
      "spark vector stream join", k = 20)
    assert(!served.collect().exists(r => subjIds(r.getLong(0))))
    assert(normalized(served) == normalized(
      graft.operators.TextSearch.bm25TopK(clean, "doc_id", "text",
        "spark vector stream join", k = 20)))
    // and the rebuilt companion carries no subject rows
    assert(spark.read.parquet(dl)
      .collect().forall(r => !subjIds(r.getLong(0))))
  }

  // ------------------------------------ p8 erasure-certificate windows

  private def corpusDocs = spark.read.parquet(s"${sf()}/documents.parquet")
  private def corpusEmb = spark.read.parquet(s"${sf()}/embeddings.parquet")
  private def p8Subjects = corpusDocs.where(col("doc_id") % 7 === 0)
    .select(col("doc_id").as("subject"))

  private def p8Cert(root: String): Set[Seq[Any]] = {
    ErasureProtocol.run(spark, root, corpusDocs, corpusEmb,
      p8Subjects, "subject")
    spark.read.parquet(s"$root/certificate").collect()
      .map(_.toSeq).toSet
  }

  private lazy val p8Want: Set[Seq[Any]] = {
    val w = p8Cert(tmp("p8-clean"))
    assert(w.size == 7, s"expected 7 certificate rows, got ${w.size}")
    assert(w.exists(r => r.head == "kmv_lang"), w.toString)
    assert(w.exists(r => r.head == "components"), w.toString)
    w
  }

  test("p8 crash between base erase and artifact propagation: rerun " +
      "converges to the same certificate") {
    // hand-build the exact crash state: artifacts built, pre-audit
    // persisted, base erased — nothing propagated, no certificate
    val root = tmp("p8-crash-preprop")
    ErasureProtocol.buildArtifacts(spark, root, corpusDocs, corpusEmb)
    ErasureProtocol.audits(spark, root, corpusDocs, corpusEmb,
      p8Subjects, "subject").write.mode("overwrite").parquet(s"$root/pre")
    ErasureProtocol.baseErase(spark, root, corpusDocs, corpusEmb,
      p8Subjects, "subject")
    assert(p8Cert(root) == p8Want,
      "rerun after the pre-propagation crash diverged")
  }

  test("p8 crash after artifact propagation, before the sketch refold: " +
      "the pre-audit guard keeps erased docs out of the rerun") {
    // crash state one window later: artifacts ERASED, sketch reset but
    // not re-folded. Without the pre-audit guard a rerun's id-anti-join
    // refresh would re-append the erased docs (no longer in the index,
    // so the anti-join lets them back in) and re_refs would go nonzero.
    val root = tmp("p8-crash-presketch")
    ErasureProtocol.buildArtifacts(spark, root, corpusDocs, corpusEmb)
    ErasureProtocol.audits(spark, root, corpusDocs, corpusEmb,
      p8Subjects, "subject").write.mode("overwrite").parquet(s"$root/pre")
    ErasureProtocol.baseErase(spark, root, corpusDocs, corpusEmb,
      p8Subjects, "subject")
    SilverIndex.erasePostings(spark, s"$root/post", p8Subjects, "subject")
    SilverIndex.eraseMinhash(spark, s"$root/mh", p8Subjects, "subject")
    SilverIndex.eraseIvf(spark, s"$root/ivf", p8Subjects, "subject")
    SilverIndex.resetSketch(spark, s"$root/kmv")
    assert(p8Cert(root) == p8Want,
      "rerun after the pre-refold crash diverged")
  }
}
