package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Crash-safe replacement of a directory — the one swap protocol behind
  * the persisted BM25 ([[graft.llm.Retrieval]]) and IVF+PQ
  * ([[graft.llm.Similarity]]) index rewrites. Spark reads lazily, so a
  * rewrite never writes over the directory it scans: [[replace]] deletes
  * residue, writes the sibling `<dir><tmpTag>` (its completion file
  * last), renames `dir` → `<dir>.__old`, renames the tmp → `dir`, and
  * deletes `.__old`. A crash leaves one of these states; [[heal]] maps each
  * to a complete `dir`:
  *
  * | on disk                                  | heal                               |
  * |------------------------------------------|------------------------------------|
  * | `dir`, no `.__old` (tmp residue inert)   | nothing; the next replace drops it |
  * | `.__old` + tmp with the completion file  | rename tmp → `dir`, drop `.__old`  |
  * | `.__old`, tmp without it (or none)       | rename `.__old` → `dir`, drop tmp  |
  * | `dir` + `.__old`                         | drop `.__old` and tmp              |
  *
  * Renames are atomic on HDFS and local filesystems; copy-based object
  * store renames widen the windows. Callers hold the [[WriterLock]] on
  * `dir` (a reader's heal only when it is free), so a heal never races a
  * live writer's renames. */
object DirSwap {

  private def sibling(dir: Path, suffix: String): Path =
    new Path(dir.getParent, dir.getName + suffix)

  /** Replace `dir` with what `write` puts at the temp path it is given.
    * A failed move or restore throws an `IOException` named by `op`; when
    * `write` throws, `dir` is untouched. */
  def replace(spark: SparkSession, dir: String, tmpTag: String, op: String)
      (write: String => Unit): Unit = {
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (tmp, old) = (sibling(live, tmpTag), sibling(live, ".__old"))
    fs.delete(tmp, true) // residue of a crashed earlier rewrite
    fs.delete(old, true)
    write(tmp.toString)
    if (!fs.rename(live, old))
      throw new java.io.IOException(
        s"$op: could not move $live aside; rewrite left at $tmp")
    if (!fs.rename(tmp, live)) {
      val restored = fs.rename(old, live)
      throw new java.io.IOException(s"$op: rename $tmp -> $live failed; " + (
        if (restored) "original restored"
        else s"restore ALSO failed — original preserved at $old, rewrite at $tmp"))
    }
    fs.delete(old, true)
  }

  /** Finish or undo a crashed [[replace]] of `dir` (the table above);
    * `doneFile` is the rewrite's completion file. True when `dir` now
    * holds a rewrite: the swap was finished forward here, or it had
    * finished and only its cleanup had not. */
  def heal(spark: SparkSession, dir: String, tmpTag: String,
      doneFile: String): Boolean = {
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (tmp, old) = (sibling(live, tmpTag), sibling(live, ".__old"))
    if (!fs.exists(old)) return false
    val forward = fs.exists(live) || {
      val done = fs.exists(new Path(tmp, doneFile))
      val (from, what) = if (done) (tmp, "rename") else (old, "restore")
      if (!fs.rename(from, live))
        throw new java.io.IOException(s"DirSwap.heal: $what $from -> $live failed")
      done
    }
    fs.delete(old, true)
    fs.delete(tmp, true)
    forward
  }

  /** Data files under `dir`, recursively: names starting with `_` or `.`
    * (commit markers, sidecars, checksums) are not data. */
  def dataFiles(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val nm = it.next().getPath.getName
      if (!nm.startsWith("_") && !nm.startsWith(".")) n += 1
    }
    n
  }
}
