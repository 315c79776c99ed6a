package graft.io

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The one on-disk commit policy for every writer: the transaction the
  * reference gets from SQLite (`INSERT OR IGNORE` for properties, a status
  * `UPDATE` for links; scraper.py:185-188, 339-372), for plain file dirs.
  * Two commits:
  *
  *   - [[overwrite]] (and its per-leaf form [[overwriteLeaves]]): write the
  *     new state complete beside the target, then swap it in;
  *   - [[append]]: INSERT OR IGNORE as a staged append of the new keys;
  *
  * and the read-side helper [[exists]], which first rolls an interrupted
  * commit forward or back, so a crashed swap is never read as an absent
  * store (a replayed batch would then rebuild the store from itself alone).
  *
  * Everything goes through the Hadoop FileSystem API, so it works on
  * HDFS/S3A as on local disk (java.io.File rename silently no-ops off local
  * disk). Every sibling is derived from the dir's normalized Path, so
  * `store/` stages at `store__tmp`, never inside itself.
  *
  * A staged dir is complete iff its write returned: once `write` returns,
  * the stage gets a `_SUCCESS` marker unless its writer left one, so a
  * `DataFrameWriter`, an `MLWriter.save` or an index build that writes
  * several subdirs all commit alike. A write that throws has its stage
  * deleted. One writer per target: a second concurrent commit of the same
  * dir deletes the first one's stage.
  */
object Commit {

  private val Staged = "__tmp"        // overwrite: the next state
  private val Old = "__old"           // overwrite: the previous state
  private val Appended = "__append"   // append: the new rows
  private val SetAside = "__setaside" // overwriteLeaves: the previous leaves
  private val Marker = "_SUCCESS"     // in a stage: its write returned

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Whether `dir` holds a committed state, after recovering any commit a
    * crash interrupted. Call it before reading a dir these commits write.
    */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val (fs, target) = resolve(spark, dir)
    recover(fs, target)
    fs.exists(target)
  }

  /** Replace `dir` with what `write` writes to the path it is given.
    * Crash-safe: at no instant is the committed state unrecoverable.
    *
    *   1. write `dir__tmp` (a stale one from a crashed run is deleted first);
    *   2. rename `dir` -> `dir__old` (set aside, not deleted);
    *   3. rename `dir__tmp` -> `dir` (the commit point);
    *   4. delete `dir__old`.
    *
    * [[exists]] rolls a crash in steps 2-3 forward when `dir__tmp` is
    * complete and back to `dir__old` otherwise. A `write` that throws
    * leaves `dir` as it was and no `dir__tmp`.
    */
  def overwrite(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val (fs, target) = resolve(spark, dir)
    val old = target.suffix(Old)
    swap(fs, stage(fs, target.suffix(Staged), write), target, old)
    fs.delete(old, true)
  }

  /** [[overwrite]] narrowed to the child dirs `leaves` of `dir` (a
    * partitioned table's touched partitions, e.g. `p=3`): `write` writes
    * the new leaves under the path it is given, each is swapped in for its
    * counterpart, and every other child of `dir` is left untouched. A leaf
    * `write` did not produce is removed (every row of it was deleted).
    *
    * The previous leaves are set aside in the sibling `dir__setaside`,
    * never inside `dir`, where partition discovery would parse a set-aside
    * name as a partition value. [[exists]] rolls every set-aside leaf whose
    * replacement never arrived back; replaying the writer then re-applies
    * the change.
    */
  def overwriteLeaves(spark: SparkSession, dir: String, leaves: Seq[String])(
      write: String => Unit): Unit = {
    val (fs, target) = resolve(spark, dir)
    val staged = stage(fs, target.suffix(Staged), write)
    val aside = target.suffix(SetAside)
    leaves.foreach(l => swap(fs, new Path(staged, l), new Path(target, l), new Path(aside, l)))
    fs.delete(aside, true)
    fs.delete(staged, true)
  }

  /** INSERT OR IGNORE (SURVEY §2.1 S12): append the batch's rows whose
    * `key` the store lacks, and leave every stored file untouched, so a
    * week costs the week, not the store. Only the stored key column is
    * read (the anti-join's build side).
    *
    * Staged append — the rows are committed in three steps:
    *
    *   1. write them complete to `dir__append`;
    *   2. rename each data file into `dir` (or, when no store exists yet,
    *      the whole staging dir to `dir`: the first commit is one rename);
    *   3. delete `dir__append`.
    *
    * A crash in any step, then a replay of the same batch, converges on the
    * uncrashed table: files already renamed into `dir` are seen by the
    * replay's anti-join, and the rest are rewritten in staging. Staging
    * outside `dir` matters: an append job writing straight into `dir`
    * stages under `dir/_temporary`, whose committed task output a later
    * append's job commit can merge, duplicating keys. A replay that finds
    * no new rows changes no data file.
    *
    * The batch must carry the store's column names and types (nullability
    * aside): one parquet dir holds one schema, since readers take it from
    * one file's footer. A mismatch throws before any file is written.
    */
  def append(spark: SparkSession, rows: DataFrame, dir: String, key: String): Unit = {
    val (fs, target) = resolve(spark, dir)
    // a store written by an overwrite may be mid-swap: restore it first
    recover(fs, target)
    val stored = fs.exists(target)
    val fresh =
      if (stored) {
        val existing = spark.read.parquet(target.toString)
        requireSameSchema(rows, existing, dir)
        rows.join(existing.select(key), Seq(key), "left_anti")
          .select(existing.columns.map(col): _*)
      } else rows
    val written = Observation()
    // rebalance, not coalesce: coalesce would pull the fetch stage upstream
    // into one task; AQE sizes the rebalanced output, one file for a week
    val staged = stage(fs, target.suffix(Appended),
      fresh.hint("rebalance").observe(written, count(lit(1)).as("rows")).write.parquet(_))
    if (!stored) rename(fs, staged, target)
    else {
      if (written.get("rows").asInstanceOf[Long] > 0) fs.listStatus(staged).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .foreach(p => rename(fs, p, new Path(target, p.getName)))
      fs.delete(staged, true)
    }
  }

  private def resolve(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val target = new Path(dir)
    (target.getFileSystem(spark.sparkContext.hadoopConfiguration), target)
  }

  /** Run `write` into `staged`, deleting a stale stage of a crashed run
    * first, and mark the stage complete once `write` returns. A stage whose
    * `write` throws is deleted; a failed delete is logged, and the writer's
    * exception is the one thrown. */
  private def stage(fs: FileSystem, staged: Path, write: String => Unit): Path = {
    fs.delete(staged, true)
    try write(staged.toString)
    catch {
      case t: Throwable =>
        try fs.delete(staged, true)
        catch { case NonFatal(e) => log.warn(s"could not delete the failed stage $staged", e) }
        throw t
    }
    val marker = new Path(staged, Marker)
    if (fs.exists(staged) && !fs.exists(marker)) fs.create(marker).close()
    staged
  }

  /** Set `target` aside to `aside`, then move `staged` in its place (absent:
    * the new state of this leaf is empty). */
  private def swap(fs: FileSystem, staged: Path, target: Path, aside: Path): Unit = {
    if (fs.exists(aside)) fs.delete(aside, true) // stale, from a crash after a commit point
    if (fs.exists(target)) {
      fs.mkdirs(aside.getParent)
      rename(fs, target, aside)
    }
    if (fs.exists(staged)) rename(fs, staged, target)
  }

  /** Put `aside` back at `target` unless `target` was committed since. */
  private def restore(fs: FileSystem, aside: Path, target: Path): Unit =
    if (fs.exists(target)) fs.delete(aside, true) else rename(fs, aside, target)

  /** Idempotent; a no-op on a dir no crash interrupted. */
  private def recover(fs: FileSystem, target: Path): Unit = {
    if (!fs.exists(target)) {
      // an overwrite's swap was interrupted: roll forward when its write
      // finished, else back to the set-aside state
      val (staged, old) = (target.suffix(Staged), target.suffix(Old))
      val (keep, drop) =
        if (fs.exists(new Path(staged, Marker))) (staged, old) else (old, staged)
      if (fs.exists(keep)) {
        rename(fs, keep, target)
        fs.delete(drop, true)
      }
    }
    val aside = target.suffix(SetAside)
    if (fs.exists(aside)) {
      fs.listStatus(aside).foreach(st => restore(fs, st.getPath, new Path(target, st.getPath.getName)))
      fs.delete(aside, true)
    }
    // a former per-leaf protocol set leaves aside inside the target as
    // `leaf__old`; heal any such crash artifact before partition discovery
    // parses it as a partition value
    if (fs.exists(target))
      fs.listStatus(target).map(_.getPath).filter(_.getName.endsWith(Old))
        .foreach(p => restore(fs, p, new Path(target, p.getName.stripSuffix(Old))))
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")

  /** Throw, naming every difference, unless `batch` has `store`'s column
    * names and types (nullability aside). */
  private def requireSameSchema(batch: DataFrame, store: DataFrame, dir: String): Unit = {
    def types(df: DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val (b, s) = (types(batch), types(store))
    val diffs = (b.keySet -- s.keySet).toSeq.sorted.map(c => s"$c only in the batch") ++
      (s.keySet -- b.keySet).toSeq.sorted.map(c => s"$c only in the store") ++
      (b.keySet & s.keySet).toSeq.sorted.filter(c => b(c) != s(c))
        .map(c => s"$c is ${b(c)} in the batch, ${s(c)} in the store")
    if (diffs.nonEmpty)
      throw new IllegalArgumentException(
        s"batch schema differs from the store at $dir: ${diffs.mkString("; ")}")
  }
}
