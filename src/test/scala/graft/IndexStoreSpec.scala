package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators._
import graft.sources.Tables
import graft.util.IndexStore

/** The shared at-rest protocol (util.IndexStore). First the compaction
  * swap on a bare local FS: every spot a crash can land between
  * promote's renames is recoverable from directory state alone, and
  * recovery always prefers a COMPLETE artifact (fold if finished, else
  * the old root) over none. Then the same protocol through each of the
  * five stored indexes — a torn swap heals on exists(), an append
  * without its commit marker is invisible and redeliverable, the
  * high-water mark refuses a folded replay — and the static schema of
  * every repo-written index table. */
class IndexStoreSpec extends SparkSpec {

  private val marker = "compacted_through"

  private def mkRoot(tag: String): Path = new Path(
    java.nio.file.Files.createTempDirectory(s"graft_swap_$tag").toString,
    "idx")

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A directory with one content file so we can tell artifacts apart. */
  private def mkArtifact(f: org.apache.hadoop.fs.FileSystem, dir: Path,
                         content: String, withMarker: Boolean): Unit = {
    f.mkdirs(dir)
    val out = f.create(new Path(dir, "data"), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (withMarker) f.create(new Path(dir, marker), true).close()
  }

  private def contentOf(f: org.apache.hadoop.fs.FileSystem,
                        dir: Path): String = {
    val in = f.open(new Path(dir, "data"))
    try scala.io.Source.fromInputStream(in).mkString finally in.close()
  }

  test("promote: staging replaces root, old artifact cleaned up") {
    val root = mkRoot("happy"); val f = fs(root)
    mkArtifact(f, root, "old", withMarker = true)
    mkArtifact(f, IndexStore.stagingPath(root), "new", withMarker = true)
    IndexStore.promote(f, root)
    assert(contentOf(f, root) === "new")
    assert(!f.exists(IndexStore.stagingPath(root)))
    assert(!f.exists(new Path(root.toString + ".old")))
  }

  test("recover: crash before the swap (staging incomplete) is a no-op") {
    val root = mkRoot("pre"); val f = fs(root)
    mkArtifact(f, root, "old", withMarker = true)
    mkArtifact(f, IndexStore.stagingPath(root), "partial",
      withMarker = false)
    assert(!IndexStore.recover(f, root))
    assert(contentOf(f, root) === "old", "recover touched an intact root")
    assert(f.exists(IndexStore.stagingPath(root)),
      "recover deleted a staging the next compact() would restart from")
  }

  test("recover: crash between the renames promotes the completed fold") {
    // root stepped aside (rename 1 done), fold never promoted (rename 2
    // not reached): root is ABSENT — the exact window ADVICE flagged
    val root = mkRoot("mid"); val f = fs(root)
    mkArtifact(f, new Path(root.toString + ".old"), "old",
      withMarker = true)
    mkArtifact(f, IndexStore.stagingPath(root), "new", withMarker = true)
    assert(IndexStore.recover(f, root))
    assert(contentOf(f, root) === "new",
      "recovery did not promote the completed fold")
    assert(!f.exists(new Path(root.toString + ".old")))
    assert(!f.exists(IndexStore.stagingPath(root)))
  }

  test("recover: root absent with an INCOMPLETE staging rolls back to old") {
    // theoretically unreachable via promote() (staging is complete
    // before rename 1 ever runs), but recoverable anyway: service
    // beats fold-freshness
    val root = mkRoot("back"); val f = fs(root)
    mkArtifact(f, new Path(root.toString + ".old"), "old",
      withMarker = true)
    mkArtifact(f, IndexStore.stagingPath(root), "partial",
      withMarker = false)
    assert(IndexStore.recover(f, root))
    assert(contentOf(f, root) === "old",
      "recovery did not roll back to the old artifact")
  }

  test("recover: crash after the swap just clears the leftover old dir") {
    val root = mkRoot("post"); val f = fs(root)
    mkArtifact(f, root, "new", withMarker = true)
    mkArtifact(f, new Path(root.toString + ".old"), "old",
      withMarker = true)
    assert(!IndexStore.recover(f, root))
    assert(contentOf(f, root) === "new")
    assert(!f.exists(new Path(root.toString + ".old")),
      "recovery left the superseded artifact behind")
  }

  test("recover: nothing anywhere is a clean false") {
    val root = mkRoot("none"); val f = fs(root)
    assert(!IndexStore.recover(f, root))
    assert(!f.exists(root))
  }

  // ---- the protocol through each stored index ----------------------

  /** One stored index driven through the protocol: a backfill of three
    * fifths of the documents, one ingest of the last fifth, and an
    * answer that the ingest changes (it queries with the ingested rows). */
  private case class Subject(name: String,
                             build: String => Unit,
                             append: (String, Long) => Unit,
                             answer: String => Seq[String],
                             compact: String => Unit,
                             exists: String => Boolean,
                             hwm: String => Long)

  private def m5 = pmod(col("doc_id"), lit(5))
  private lazy val docs =
    Tables.documents(spark, sf0001).select("doc_id", "text")
      .filter(m5 =!= 0).localCheckpoint(true)
  private lazy val base = docs.filter(m5 =!= 4)
  private lazy val batch = docs.filter(m5 === 4)
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val emb = graft.queries.LlmOps.embDouble(
      Tables.embeddings(spark, sf0001))
    .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("v"))
    .localCheckpoint(true)
  private lazy val qv = emb.filter(col("vec_id") === 4)
    .select("v").first().getSeq[Double](0)

  private lazy val subjects = Seq(
    Subject("DedupIndex",
      DedupIndex.buildDocs(base, _),
      (r, id) => DedupIndex.appendDocs(batch, r, id),
      r => rows(DedupIndex.queryBatchDocs(spark, r, batch)),
      DedupIndex.compact(spark, _), DedupIndex.exists(spark, _),
      DedupIndex.compactedThrough(spark, _)),
    Subject("FrameIndex",
      FrameIndex.build(base, _),
      (r, id) => FrameIndex.append(batch, r, id),
      r => rows(PHash.screenFrames(batch, FrameIndex.stored(spark, r))),
      FrameIndex.compact(spark, _), FrameIndex.exists(spark, _),
      FrameIndex.compactedThrough(spark, _)),
    Subject("PHashIndex",
      PHashIndex.build(base, _),
      (r, id) => PHashIndex.append(batch, r, id),
      r => rows(PHashIndex.queryBatch(spark, r, batch)),
      PHashIndex.compact(spark, _), PHashIndex.exists(spark, _),
      PHashIndex.compactedThrough(spark, _)),
    Subject("InvertedIndex",
      InvertedIndex.build(base, _),
      (r, id) => InvertedIndex.append(batch, r, id),
      r => rows(InvertedIndex.query(spark, r,
        Seq("spark", "window", "dup", "merge"), k = 50)),
      InvertedIndex.compact(spark, _), InvertedIndex.exists(spark, _),
      InvertedIndex.compactedThrough(spark, _)),
    Subject("AnnIndex",
      AnnIndex.build(emb.filter(pmod(col("vec_id"), lit(5)) =!= 4), _),
      (r, id) => AnnIndex.append(
        emb.filter(pmod(col("vec_id"), lit(5)) === 4), r, id),
      r => rows(AnnIndex.query(spark, r, qv, nprobe = 3, n = 10)),
      AnnIndex.compact(spark, _), AnnIndex.exists(spark, _),
      AnnIndex.compactedThrough(spark, _)))

  private def tmpIndex(tag: String): String = new java.io.File(
    java.nio.file.Files.createTempDirectory(s"graft_store_$tag").toFile,
    "idx").toString

  for (name <- Seq("DedupIndex", "FrameIndex", "PHashIndex",
                   "InvertedIndex", "AnnIndex")) {
    def subject = subjects.find(_.name == name).get

    test(s"$name: a compaction swap torn mid-rename heals on the next exists()") {
      val x = subject
      val root = tmpIndex("torn")
      x.build(root)
      x.append(root, 1L)
      x.compact(root)
      val before = x.answer(root)
      val rootP = new Path(root)
      val f = fs(rootP)
      // the crash window between promote's renames: root stepped aside,
      // the complete fold (HWM present) never promoted
      assert(f.rename(rootP, IndexStore.stagingPath(rootP)))
      f.mkdirs(new Path(root + ".old"))
      assert(x.exists(root), "torn swap read as 'no index' instead of healing")
      assert(!f.exists(IndexStore.stagingPath(rootP)) &&
        !f.exists(new Path(root + ".old")), "recovery left swap debris")
      assert(x.answer(root) === before, "healed index answers differently")
    }

    test(s"$name: an append without its commit marker is invisible, never folded, redeliverable") {
      val x = subject
      val root = tmpIndex("unmarked")
      x.build(root)
      val before = x.answer(root)
      x.append(root, 1L)
      val after = x.answer(root)
      assert(after !== before, "test shape: the ingest must change the answer")
      // a crash inside job commit: the ingest's rows are on disk, its
      // marker never landed (every table of the ingest)
      val f = fs(new Path(root))
      val markers = f.globStatus(new Path(s"$root/*/*=1/_SUCCESS"))
      assert(markers.nonEmpty, "test setup: no commit marker to tear")
      markers.foreach(m => assert(f.delete(m.getPath, false)))
      assert(x.answer(root) === before, "uncommitted ingest rows are visible")
      x.compact(root)
      assert(x.hwm(root) === 0L,
        "compaction raised the high-water mark past an uncommitted ingest")
      x.append(root, 1L) // the at-least-once redelivery lands normally
      assert(x.answer(root) === after, "redelivered ingest must restore the answer")
    }

    test(s"$name: the high-water mark refuses a replay of a folded ingest") {
      val x = subject
      val root = tmpIndex("hwm")
      x.build(root)
      x.append(root, 1L)
      x.compact(root)
      assert(x.hwm(root) === 1L)
      val folded = x.answer(root)
      val e = intercept[IllegalArgumentException](x.append(root, 1L))
      assert(e.getMessage.contains("high-water"), e.getMessage)
      assert(x.answer(root) === folded, "a refused replay changed the index")
    }
  }

  // ---- static schemas ------------------------------------------------

  /** Count and order-free content hash of `df`'s columns cast to
    * `schema` (partition values parse as int when inferred). */
  private def fingerprint(df: DataFrame, schema: StructType): (Long, Long) = {
    val r = df.select(schema.map(f => col(f.name).cast(f.dataType)): _*)
      .agg(count(lit(1)), sum(hash(schema.map(f => col(f.name)): _*)
        .cast("long"))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  test("every index table read with its declared schema equals a bare inferring read") {
    // the reads skip footer inference (a Spark job each), so a declared
    // schema that drifted from what the writers emit must fail here; the
    // AnnIndex attrs sidecar carries caller-defined columns and keeps
    // inference
    val dedup = tmpIndex("schema_dedup")
    DedupIndex.buildDocs(base, dedup)
    val frame = tmpIndex("schema_frame")
    FrameIndex.build(base, frame, dfCap = 1L)
    val phash = tmpIndex("schema_phash")
    PHashIndex.build(base, phash)
    PHashIndex.append(batch, phash, 1L)
    val inv = tmpIndex("schema_inv")
    InvertedIndex.build(base, inv)
    InvertedIndex.append(batch, inv, 1L)
    val ann = tmpIndex("schema_ann")
    AnnIndex.build(emb, ann)
    val dc = tmpIndex("schema_decontam")
    DecontamIndex.build(Graft.shingleRows(batch, "doc_id", "text"), dc)
    val tables = Seq(
      (s"$dedup/docs/ingest=0", DedupIndex.RowSchema, Nil),
      (s"$frame/frames", FrameIndex.FramesSchema, Seq("ingest")),
      (s"$frame/dfs", FrameIndex.DfsSchema, Seq("ingest")),
      (s"$frame/hot", FrameIndex.HotSchema, Nil),
      (s"$phash/sigs", PHashIndex.SigsSchema, Seq("ingest")),
      (s"$inv/stats", InvertedIndex.StatsSchema, Seq("batch")),
      (s"$inv/postings", InvertedIndex.PostingsSchema, Seq("batch", "tb")),
      (s"$inv/dfs", InvertedIndex.DfsSchema, Seq("batch", "tb")),
      (s"$ann/centroids", AnnIndex.CentroidsSchema, Nil),
      (s"$ann/codebooks", AnnIndex.CodebooksSchema, Nil),
      (s"$ann/codes", AnnIndex.CodesSchema, Seq("batch", "cell")),
      (s"$dc/shingles", DecontamIndex.ShinglesSchema, Nil),
      (s"$dc/bloom", DecontamIndex.BloomSchema, Nil))
    for ((dir, ddl, partCols) <- tables) {
      val declared = StructType.fromDDL(ddl)
      val bare = spark.read.parquet(dir)
      assert(bare.columns.toSet === declared.fieldNames.toSet,
        s"$dir: declared columns differ from the written ones")
      for (fld <- declared if !partCols.contains(fld.name))
        assert(bare.schema(fld.name).dataType === fld.dataType,
          s"$dir: ${fld.name} is written as ${bare.schema(fld.name).dataType}")
      val fp = fingerprint(bare, declared)
      assert(fp._1 > 0L, s"$dir: test shape: empty table")
      assert(fingerprint(spark.read.schema(ddl).parquet(dir), declared) === fp,
        s"$dir: the declared-schema read differs from a bare read")
    }
  }
}
