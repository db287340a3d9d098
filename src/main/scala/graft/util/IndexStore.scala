package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The at-rest protocol every stored index follows — build once, append
  * per batch, answer from storage — written once. [[graft.operators]]'s
  * DedupIndex, FrameIndex, PHashIndex, InvertedIndex and AnnIndex keep
  * only their own algorithm (what they write, how they probe, what a
  * compaction folds); the layout, commit, high-water-mark and swap rules
  * live here.
  *
  * Layout, under an index `root`:
  *
  *   root/<table>/<key>=N/    — ingest id N of a table (0 = the backfill,
  *                              `key` is `ingest` or `batch`);
  *   root/compacted_through   — the high-water mark (HWM): the highest
  *                              ingest id a compaction has folded.
  *
  * Commit: an append is ONE static overwrite of its own `key=N` dir
  * ([[write]]), so Hadoop's job commit writes `_SUCCESS` into that dir
  * last. A dir with the marker is committed; a dir without it is a torn
  * append (a crash before or inside job commit — the writer creates the
  * dir at job setup and moves inner partitions in one by one) that no
  * read sees, no compaction folds, and a replay overwrites. No write
  * here uses dynamic partition overwrite, which emits no marker and
  * makes a batch visible partition by partition.
  *
  * High-water mark: appends at or below it are refused — their rows are
  * already in the folded backfill, and a re-append would store them
  * twice. Streaming faces skip those ids instead (replay after a
  * compaction is idempotent).
  *
  * Compaction ([[compact]]) is a staged write plus a two-rename swap:
  *
  *   1. the fold is written COMPLETELY under `root.compact`, the HWM
  *      file last — its presence means the fold finished;
  *   2. `rename(root, root.old)`   (the old artifact steps aside);
  *   3. `rename(staging, root)`    (the fold takes its place);
  *   4. `delete(root.old)`         (cleanup, not correctness).
  *
  * Directory rename is atomic on HDFS and on local filesystems, so a
  * crash lands BETWEEN steps and [[recover]] repairs every landing spot
  * from directory state alone:
  *
  *   - crash in 1: root intact, staging without the HWM → no-op; the
  *     next compact deletes the stale staging and starts over;
  *   - crash between 2 and 3: root absent, staging complete → finish the
  *     promote (staging → root, drop root.old);
  *   - crash between 3 and 4: root intact, root.old left → delete it;
  *   - the unreachable "root absent, staging incomplete, root.old
  *     present" state rolls BACK (root.old → root) — service beats
  *     fold-freshness.
  *
  * [[exists]] runs the recovery first, so a torn swap heals on first
  * touch instead of reading as "no index" and baiting a caller into a
  * wipe-and-rebuild over the orphaned fold. An object-store deployment
  * replaces the renames with a manifest swap; the staging, marker and
  * recovery contract is unchanged.
  *
  * Concurrency: compaction is SINGLE-WRITER (at most one compact per
  * root at a time). Recovery runs from every reader, so a reader can
  * race the writer inside promote's two-rename window and finish the
  * promote itself; both sides therefore tolerate a LOST rename by
  * re-checking whether the other party already put the (identical)
  * artifact at root.
  */
object IndexStore {

  private val Marker = "_SUCCESS"
  private val HwmFile = "compacted_through"

  def fs(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** `table/key=id` — the directory ingest `id` of `table` lives in. */
  def part(table: String, key: String, id: Long): String = s"$table/$key=$id"

  /** Write ingest `id` of `table` as one static overwrite of its own
    * dir, hive-partitioned inside it by `by` — committed by the marker
    * job commit writes last. */
  def write(rows: DataFrame, table: String, key: String, id: Long,
            by: String*): Unit =
    rows.write.mode("overwrite").partitionBy(by: _*)
      .parquet(part(table, key, id))

  /** True iff `dir` was written by a committed Spark job (holds the
    * marker) — for artifacts written whole, in one job, last. */
  def isCommitted(s: SparkSession, dir: String): Boolean =
    fs(s, dir).exists(new Path(dir, Marker))

  /** Ids N of the committed `key=N` dirs directly under `dir`,
    * ascending (a listing, not a data scan). */
  def committed(s: SparkSession, dir: String): Seq[Long] = {
    val f = fs(s, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("=") &&
        f.exists(new Path(st.getPath, Marker)))
      .map(_.getPath.getName.split("=", 2)(1).toLong).sorted
  }

  /** The rows of ingests `ids` of `table`: a static `schema` (the `key`
    * column and any inner partition columns included) instead of footer
    * inference, which is a Spark job per read, over only the `ids` dirs,
    * so a torn ingest is never even listed. */
  def read(s: SparkSession, table: String, schema: String, key: String,
           ids: Seq[Long]): DataFrame =
    s.read.schema(schema).option("basePath", table)
      .parquet(ids.map(part(table, key, _)): _*)

  /** Highest ingest id folded by a compaction (−1 before any). */
  def compactedThrough(s: SparkSession, root: String): Long = {
    val f = fs(s, root)
    val p = new Path(root, HwmFile)
    if (!f.exists(p)) -1L
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    }
  }

  /** True iff an index exists under `root`: its `table`'s backfill is
    * committed. Repairs a torn compaction swap first (see above). */
  def exists(s: SparkSession, root: String, table: String): Boolean = {
    recover(fs(s, root), new Path(root))
    committed(s, table).contains(0L)
  }

  /** The append guard: `id` is not the backfill, the index exists, and
    * no compaction has folded `id` yet. */
  def requireAppendable(s: SparkSession, root: String, table: String,
                        id: Long): Unit = {
    require(id > 0L, s"ingest id must be > 0 (0 is the backfill): $id")
    require(exists(s, root, table),
      s"no index under $root — build the backfill first")
    val hwm = compactedThrough(s, root)
    require(id > hwm,
      s"ingest $id was already folded by a compaction (high-water mark " +
        s"$hwm) — re-appending it would store its rows twice")
  }

  /** Delete any artifact under `root` — a rebuild starts from nothing,
    * so one that dies midway reads as "no index", never as new models
    * over stale rows. */
  def wipe(s: SparkSession, root: String): Unit = {
    val p = new Path(root)
    val f = fs(s, root)
    if (f.exists(p)) f.delete(p, true)
  }

  /** The staged compaction: `fold(staging)` writes the folded artifact
    * under the staging root; the HWM — max of the `folded` ids and the
    * previous mark — is written last, then staging replaces `root`. */
  def compact(s: SparkSession, root: String, folded: Seq[Long])
             (fold: String => Unit): Unit = {
    val f = fs(s, root)
    val staging = stagingPath(new Path(root))
    if (f.exists(staging)) f.delete(staging, true)
    fold(staging.toString)
    val hwm = math.max(folded.max, compactedThrough(s, root))
    val out = f.create(new Path(staging, HwmFile), true)
    try out.write(hwm.toString.getBytes("UTF-8")) finally out.close()
    promote(f, new Path(root))
  }

  private[graft] def stagingPath(root: Path): Path =
    new Path(root.toString + ".compact")
  private def oldPath(root: Path): Path = new Path(root.toString + ".old")

  /** Steps 2–4 of the swap; the staging must be complete. */
  private[graft] def promote(f: FileSystem, root: Path): Unit = {
    val staging = stagingPath(root)
    val old = oldPath(root)
    if (f.exists(old)) f.delete(old, true)
    require(f.rename(root, old),
      s"compaction swap failed: could not set $root aside as $old")
    if (!f.rename(staging, root)) {
      // a reader's recover() finished the promote inside our window —
      // the artifact at root IS the fold; anything else is a real
      // failure (the previous artifact is intact at root.old)
      require(f.exists(root) && !f.exists(staging),
        s"compaction swap failed: could not promote $staging to $root " +
          s"(the previous artifact is intact at $old — rename it back)")
    }
    f.delete(old, true)
  }

  /** Repair a torn [[promote]]; true iff an artifact was restored at
    * `root`. Idempotent, and three exists probes when nothing is torn. */
  private[graft] def recover(f: FileSystem, root: Path): Boolean = {
    val staging = stagingPath(root)
    val old = oldPath(root)
    val stagingComplete =
      f.exists(staging) && f.exists(new Path(staging, HwmFile))
    if (!f.exists(root) && stagingComplete) {
      // the rename can lose a race with the writer's own promote (or a
      // sibling reader's recover); root existing afterwards means the
      // identical artifact landed either way
      if (!f.rename(staging, root))
        require(f.exists(root),
          s"swap recovery failed: could not promote $staging to $root")
      f.delete(old, true)
      true
    } else if (!f.exists(root) && f.exists(old)) {
      if (!f.rename(old, root))
        require(f.exists(root),
          s"swap recovery failed: could not roll $old back to $root")
      true
    } else {
      if (f.exists(root) && f.exists(old)) f.delete(old, true)
      false
    }
  }
}
