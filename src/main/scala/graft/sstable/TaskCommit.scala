package graft.sstable

import scala.util.matching.Regex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.connector.write.WriterCommitMessage

/** The one two-phase commit for the engine's file sinks — the
  * Spark-side analog of the reference's `FileOutputCommitter` job
  * commit (`output/CustomFileNameFileOutputFormat.java:27-46`):
  *
  *  - stage (task side): each task attempt writes its files into its
  *    own `<out>/_temporary/<jobId>/attempt-<tag>/` and publishes
  *    nothing; a failed attempt deletes that directory;
  *  - publish (driver side): after the whole job succeeded, the files
  *    of the one attempt per partition that the scheduler accepted are
  *    renamed into `<out>`. A failed job publishes nothing, so the
  *    previous output stays whole; only a driver crash mid-publish can
  *    leave a prefix. Either way the job's temp tree is dropped, and
  *    every reader here (and Spark's own) skips `_temporary` as hidden.
  */
object TaskCommit {

  /** What a DataSourceV2 task returns: its staged attempt directory. */
  final case class Staged(dir: String) extends WriterCommitMessage

  /** One sink job over `rows`: `writePartition(fs, attemptDir,
    * partitionIndex, rows)` stages each partition's files, then the
    * driver publishes them, replacing every file of `finalNames`. */
  def write[T](rows: Dataset[T], outDir: String, finalNames: Regex)(
      writePartition: (FileSystem, Path, Int, Iterator[T]) => Unit): Unit = {
    val conf = rows.sparkSession.sessionState.newHadoopConf()
    val hconf = new org.apache.spark.util.SerializableConfiguration(conf)
    val jobId = newJobId()
    try {
      val staged = rows.rdd.mapPartitionsWithIndex { (idx, it) =>
        Iterator.single(stage(hconf.value, outDir, jobId)((fs, dir) => writePartition(fs, dir, idx, it)))
      }.collect()
      publish(conf, outDir, staged.toSeq, Some(finalNames))
    } finally cleanupJob(conf, outDir, jobId)
  }

  def newJobId(): String = java.util.UUID.randomUUID().toString

  private def tempRoot(outDir: Path, jobId: String): Path =
    new Path(outDir, s"_temporary/$jobId")

  /** Task side: create this task attempt's private directory. */
  def attemptDir(conf: Configuration, outDir: String, jobId: String): (FileSystem, Path) = {
    val out = new Path(outDir)
    val fs = out.getFileSystem(conf)
    val tc = org.apache.spark.TaskContext.get()
    val attemptTag =
      if (tc == null) s"local-${java.util.UUID.randomUUID()}"
      else s"${tc.stageId()}-${tc.partitionId()}-${tc.taskAttemptId()}"
    val dir = new Path(tempRoot(out, jobId), s"attempt-$attemptTag")
    fs.mkdirs(dir)
    (fs, dir)
  }

  /** Task side: run `write` in a fresh attempt directory and return
    * its path; a throwing `write` deletes the directory. */
  def stage(conf: Configuration, outDir: String, jobId: String)(
      write: (FileSystem, Path) => Unit): String = {
    val (fs, dir) = attemptDir(conf, outDir, jobId)
    try write(fs, dir) catch { case e: Throwable => discard(fs, dir); throw e }
    dir.toString
  }

  def discard(fs: FileSystem, dir: Path): Unit =
    try { fs.delete(dir, true); () } catch { case _: Exception => () }

  /** Driver side, after the job succeeded: delete the files in
    * `outDir` matching `clean` (overwrite), then move every staged file
    * in under its own name. Replacing any other existing file fails
    * before anything moves (append never replaces). Files move in name
    * order: `*-CompressionInfo.db`/`*-Index.db` land before `*-Data.db`. */
  def publish(conf: Configuration, outDir: String, staged: Seq[String],
      clean: Option[Regex]): Unit = {
    val out = new Path(outDir)
    val fs = out.getFileSystem(conf)
    val files = staged.flatMap(d => fs.listStatus(new Path(d))).filter(_.isFile)
      .map(_.getPath).sortBy(_.getName)
    val existing =
      if (fs.exists(out)) fs.listStatus(out).filter(_.isFile).map(_.getPath.getName).toSet
      else Set.empty[String]
    val stale = existing.filter(n => clean.exists(_.matches(n)))
    val collisions = files.map(_.getName).filter(n => existing(n) && !stale(n))
    if (collisions.nonEmpty)
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"publish into $outDir would replace ${collisions.mkString(", ")}")
    stale.foreach(n => fs.delete(new Path(out, n), false))
    files.foreach { f =>
      if (!fs.rename(f, new Path(out, f.getName)))
        throw new java.io.IOException(s"publish rename failed: $f -> $out")
    }
  }

  /** Driver side, success or not: drop the job's temp tree. */
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
