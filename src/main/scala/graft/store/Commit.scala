package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe commit primitives shared by every on-disk store — the
  * engine's form of the reference's idempotent create-then-append
  * (SURVEY.md D1–D4). Two protocols live here and nowhere else:
  *
  * BATCH MARKERS ([[once]]). foreachBatch re-delivers a failed batch
  * with the SAME batchId, so a micro-batch body runs under a
  * `batch_markers/<prefix><id>` marker written only AFTER the body
  * finished: a marked batch is skipped wholesale, an unmarked one
  * replays. The body must therefore be replay-safe up to its last
  * step. [[TextIndex.appendBatch]]/[[TextIndex.deleteBatch]] get that
  * from a staged commit (stage → STAGED marker → publish by per-file
  * rename → batch marker → clean), where every crash point replays
  * safely:
  *   - no STAGED marker → the main layout is untouched; wipe the
  *     partial staging dir and redo the whole batch;
  *   - STAGED, no batch marker → the staged files are final; RESUME
  *     the publish (a file is either still in staging or already at
  *     its destination — dest names are deterministic, so the move is
  *     idempotent) without recomputing anything;
  *   - batch marker present → fully published; drop any staging
  *     leftovers and skip wholesale (the ProfileLedger discipline).
  * This closes the replay double-count hole a bare append has: a crash
  * BETWEEN the postings append and the doclens write would otherwise
  * make the replay's anti-join re-append those postings (df counted
  * twice — permanently wrong scores). [[graft.text.Dedup
  * .labelStoreBatch]] needs no staging: its fold is idempotent, so the
  * marker there is a work-skip.
  *
  * Bounded marker growth (r22; the r19/r20 robustness ask): markers
  * are one empty file per batch FOREVER without retention — a
  * year-long stream lists millions of them on every skip check. Old
  * markers fold into a HIGH-WATER file `_hwm_<prefix>_<N>` meaning
  * "every <prefix> batch with id ≤ N is done": a batch is skipped when
  * its own marker exists OR its id is under the high water. Crash-safe
  * by file NAMING, no content read: the new high-water file is created
  * BEFORE any marker or older high-water file is deleted, and the
  * reader takes the MAX across surviving `_hwm` files — at no crash
  * point can a processed batch read as unprocessed (the only replay
  * hazard). Structured streaming replays only the last uncommitted
  * batch ids, so a 4096-batch window is far beyond any real replay
  * horizon; pruning runs every 256th batch so the steady-state dir
  * holds ≤ ~4.3k files per prefix instead of one per batch ever.
  *
  * DIRECTORY SWAP ([[swap]]). A layout rewritten as a whole (compaction,
  * the label store's fold) is written aside, then swapped in by
  * rename-aside → rename-in → delete-old, so the data is ALWAYS present
  * under some name: a crash between the renames leaves only the aside
  * copy (healed by the next swap, or by a reader calling [[heal]],
  * which restores it), a crash before the delete leaves both (healed by
  * dropping the superseded aside copy). Still not ATOMIC for concurrent
  * readers — a reader can catch the instant between the renames;
  * production runs schedule the swap in a maintenance window, or
  * snapshot the directory, or wrap the layout in a manifest/table
  * format.
  */
private[graft] object Commit {

  /** The Hadoop filesystem serving `path`, configured from the session. */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def marker(path: String, token: String): Path =
    new Path(s"$path/batch_markers/$token")

  def touch(fs: FileSystem, p: Path): Unit = {
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  val MarkerRetention = 4096L
  val MarkerPruneEvery = 256L

  /** Max N across `_hwm_<prefix>_<N>` files; -1 when none. */
  def markerHighWater(fs: FileSystem, path: String, prefix: String): Long = {
    val dir = new Path(s"$path/batch_markers")
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith(s"_hwm_${prefix}_"))
      .flatMap(n => scala.util.Try(
        n.stripPrefix(s"_hwm_${prefix}_").toLong).toOption)
      .foldLeft(-1L)(math.max)
  }

  /** The skip check: marker file present, or id under the high water. */
  def batchDone(fs: FileSystem, path: String, prefix: String,
      batchId: Long): Boolean =
    fs.exists(marker(path, s"$prefix$batchId")) ||
      batchId <= markerHighWater(fs, path, prefix)

  /** Advance the high water to `batchId - MarkerRetention` and drop the
    * markers it covers — called AFTER this batch's marker is down, on
    * the `MarkerPruneEvery` cadence. Deletion order (new `_hwm` first)
    * is the crash-safety argument above.
    */
  def pruneMarkers(fs: FileSystem, path: String, prefix: String,
      batchId: Long): Unit = {
    if (batchId <= 0 || batchId % MarkerPruneEvery != 0L) return
    val hw = batchId - MarkerRetention
    if (hw < 0 || hw <= markerHighWater(fs, path, prefix)) return
    touch(fs, marker(path, s"_hwm_${prefix}_$hw"))
    val dir = new Path(s"$path/batch_markers")
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      val covered =
        if (n.startsWith(s"_hwm_${prefix}_"))
          scala.util.Try(n.stripPrefix(s"_hwm_${prefix}_").toLong)
            .toOption.exists(_ < hw)
        else if (n.startsWith(prefix) && !n.startsWith("_"))
          scala.util.Try(n.stripPrefix(prefix).toLong)
            .toOption.exists(_ <= hw)
        else false
      if (covered) fs.delete(st.getPath, false)
    }
  }

  /** Run `body` once per (`prefix`, `batchId`) under `path`: skip a done
    * batch, else run it, then land the marker, then prune. Every
    * committed batch prunes, including one whose body wrote nothing.
    * An early exit inside `body` must be an if/else: a `return` there
    * is a non-local return that would jump past the marker.
    */
  def once(fs: FileSystem, path: String, prefix: String, batchId: Long)(
      body: => Unit): Unit =
    if (!batchDone(fs, path, prefix, batchId)) {
      body
      touch(fs, marker(path, s"$prefix$batchId"))
      pruneMarkers(fs, path, prefix, batchId)
    }

  /** Restore `aside` to `live` when a crashed swap left only the aside
    * copy.
    */
  def heal(fs: FileSystem, live: Path, aside: Path): Unit =
    if (!fs.exists(live) && fs.exists(aside))
      require(fs.rename(aside, live),
        s"heal failed: could not restore $aside to $live")

  /** Replace `live` with what `write` puts at `next`: heal a crashed
    * predecessor, clear its leftovers, write, rename `live` aside (when
    * there is one), rename `next` in, delete the aside copy. Returns
    * `write`'s result, which runs after the heal and so may measure
    * `live`.
    */
  def swap[T](fs: FileSystem, live: Path, next: Path, aside: Path)(
      write: => T): T = {
    heal(fs, live, aside)
    fs.delete(aside, true)
    fs.delete(next, true)
    val out = write
    if (fs.exists(live))
      require(fs.rename(live, aside), s"swap failed: could not move $live aside")
    require(fs.rename(next, live),
      s"swap failed: could not rename $next into $live")
    fs.delete(aside, true)
    out
  }

  /** Every `.parquet` file under `dir`, recursively; empty when `dir`
    * does not exist.
    */
  def parquetFiles(fs: FileSystem, dir: Path): Vector[Path] =
    if (!fs.exists(dir)) Vector.empty
    else {
      val it = fs.listFiles(dir, true)
      val b = Vector.newBuilder[Path]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) b += f
      }
      b.result()
    }
}
