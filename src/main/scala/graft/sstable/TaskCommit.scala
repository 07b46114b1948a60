package graft.sstable

import scala.util.matching.Regex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Dataset

/** Speculation-safe task commit for the engine's file sinks — the
  * Spark-side analog of the reference's inherited `FileOutputCommitter`
  * semantics (`output/CustomFileNameFileOutputFormat.java:27-46`,
  * SURVEY §4 "idempotent commit protocol"):
  *
  *  - every task attempt writes into its own private directory under
  *    `<out>/_temporary/<jobId>/attempt-<tag>/` — two concurrent
  *    attempts for one partition (speculation, retry-plus-zombie) can
  *    never interleave bytes in one open file;
  *  - task commit publishes each finished file with an atomic rename;
  *    first committer wins, the loser deletes its own copy — exactly
  *    one complete file per final name ever becomes visible;
  *  - task abort (any exception in the write) deletes the attempt dir:
  *    a failed job leaves final paths untouched, and its debris lives
  *    only under `_temporary`, which every reader in this engine (and
  *    Spark's own file sources) skips as hidden.
  */
object TaskCommit {

  /** One sink job over `rows`: clear every file in `outDir` whose name
    * matches `finalNames` (a previous run's output, however many files
    * it wrote), let `writePartition(fs, attemptDir, partitionIndex,
    * rows)` write each partition's files into its attempt directory,
    * publish them, then drop the job's temp tree. A partition that
    * writes nothing publishes nothing. */
  def write[T](rows: Dataset[T], outDir: String, finalNames: Regex)(
      writePartition: (FileSystem, Path, Int, Iterator[T]) => Unit): Unit = {
    val conf = rows.sparkSession.sessionState.newHadoopConf()
    val hconf = new org.apache.spark.util.SerializableConfiguration(conf)
    val jobId = java.util.UUID.randomUUID().toString
    preClean(conf, outDir, finalNames)
    rows.rdd.mapPartitionsWithIndex { (idx, it) =>
      withTaskAttemptDir(hconf.value, outDir, jobId)((fs, dir) => writePartition(fs, dir, idx, it))
      Iterator.single(idx)
    }.count()
    cleanupJob(conf, outDir, jobId)
  }

  def tempRoot(outDir: Path, jobId: String): Path =
    new Path(outDir, s"_temporary/$jobId")

  /** Run `write` against a task-attempt-private directory, then
    * atomically publish every file in it into `outDir` under its own
    * (final) name. Files commit in name order, so a
    * `*-CompressionInfo.db` sidecar is always visible before its
    * `*-Data.db`. */
  def withTaskAttemptDir(conf: Configuration, outDir: String, jobId: String)(
      write: (FileSystem, Path) => Unit): Unit = {
    val out = new Path(outDir)
    val fs = out.getFileSystem(conf)
    val tc = org.apache.spark.TaskContext.get()
    val attemptTag =
      if (tc == null) s"local-${java.util.UUID.randomUUID()}"
      else s"${tc.stageId()}-${tc.partitionId()}-${tc.taskAttemptId()}"
    val attemptDir = new Path(tempRoot(out, jobId), s"attempt-$attemptTag")
    fs.mkdirs(attemptDir)
    try write(fs, attemptDir)
    catch {
      case e: Throwable =>
        try fs.delete(attemptDir, true) catch { case _: Exception => () }
        throw e
    }
    fs.listStatus(attemptDir).filter(_.isFile).sortBy(_.getPath.getName)
      .foreach(st => commitFile(fs, st.getPath, new Path(out, st.getPath.getName)))
    fs.delete(attemptDir, true)
    ()
  }

  /** First committer wins. Both orders of the (exists, rename) race are
    * safe: rename is atomic, so the final path only ever holds one
    * COMPLETE file (on HDFS the second rename fails; on POSIX it
    * atomically replaces one complete copy with another — attempts of
    * one partition write identical content, so either outcome is the
    * same bytes). */
  private def commitFile(fs: FileSystem, tmp: Path, finalPath: Path): Unit = {
    if (fs.exists(finalPath)) { fs.delete(tmp, false); () }
    else if (fs.rename(tmp, finalPath)) ()
    else if (fs.exists(finalPath)) { fs.delete(tmp, false); () }
    else throw new java.io.IOException(s"commit rename failed: $tmp -> $finalPath")
  }

  /** Driver-side job prologue: delete every file in `outDir` whose
    * name matches `finalNames`, so neither first-committer-wins nor a
    * reader can pick up a previous run's output (the sinks' overwrite
    * semantics). */
  def preClean(conf: Configuration, outDir: String, finalNames: Regex): Unit = {
    val out = new Path(outDir)
    val fs = out.getFileSystem(conf)
    if (fs.exists(out))
      fs.listStatus(out).filter(st => st.isFile && finalNames.matches(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, false))
  }

  /** Driver-side job epilogue: drop the job's temp tree (aborted and
    * losing attempts' leftovers live only here). */
  def cleanupJob(conf: Configuration, outDir: String, jobId: String): Unit = {
    val out = new Path(outDir)
    val fs = out.getFileSystem(conf)
    try {
      fs.delete(tempRoot(out, jobId), true)
      val tmp = new Path(out, "_temporary")
      if (fs.exists(tmp) && fs.listStatus(tmp).isEmpty) fs.delete(tmp, false)
    } catch { case _: Exception => () }
  }
}
