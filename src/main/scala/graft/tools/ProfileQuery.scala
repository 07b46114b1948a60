package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Round-16 optimization profiler: run one registered query N times
  * (default 2 — first run warms JIT/codegen, LAST run is reported)
  * with a listener that attributes wall time to stages, so the
  * "where do the seconds go" question is answered without the UI.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ProfileQuery <name> [reps]"
  *
  * Prints per-stage: duration, task count, input bytes, shuffle
  * read/write bytes, and the callsite name — plus per-job totals.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession("graft-profile")
    val q = graft.SparkEntry.registry.find(_.name == name)
      .getOrElse(sys.error(s"unknown query: $name"))

    case class St(var dur: Long = 0L, var tasks: Int = 0, var in: Long = 0L,
      var sr: Long = 0L, var sw: Long = 0L, var nm: String = "",
      var sub: Long = 0L, var done: Long = 0L)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long, String)]
    var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val i = e.stageInfo
          val s = stages.getOrElseUpdate(i.stageId, St())
          s.dur = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
          s.sub = i.submissionTime.getOrElse(0L)
          s.done = i.completionTime.getOrElse(0L)
          s.tasks = i.numTasks
          s.in = i.taskMetrics.inputMetrics.bytesRead
          s.sr = i.taskMetrics.shuffleReadMetrics.totalBytesRead
          s.sw = i.taskMetrics.shuffleWriteMetrics.bytesWritten
          s.nm = i.name.linesIterator.next().take(120)
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting)
          jobs(e.jobId) = (e.time, 0L,
            Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("").take(80))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (collecting) jobs.get(e.jobId).foreach { case (s, _, d) =>
          jobs(e.jobId) = (s, e.time, d)
        }
    })

    // warmup reps: JIT + codegen cache, same discipline as the bench
    for (r <- 1 to reps) {
      val last = r == reps
      if (last) { collecting = true }
      val t0 = System.nanoTime()
      val df = q.run(spark, sfDir)
      val n = try df.count() finally graft.operators.Storage.release(df)
      val dt = (System.nanoTime() - t0) / 1e9
      if (last) {
        collecting = false
        // give the listener bus a moment to drain
        Thread.sleep(500)
        println(f"== $name rep $r/$reps: $dt%.3f s, rows=$n")
        println("== jobs (wall ms):")
        jobs.foreach { case (id, (s, e, d)) =>
          println(f"  job $id%3d ${e - s}%6d ms  $d")
        }
        val totalJob = jobs.values.map { case (s, e, _) => e - s }.sum
        println(f"  sum of job walls: $totalJob%d ms (overlap possible)")
        println("== stages by duration:")
        stages.toSeq.sortBy(-_._2.dur).take(25).foreach { case (id, s) =>
          println(f"  stage $id%4d ${s.dur}%6d ms tasks=${s.tasks}%3d " +
            f"in=${s.in / 1024}%8d KiB sr=${s.sr / 1024}%8d KiB " +
            f"sw=${s.sw / 1024}%8d KiB  ${s.nm}")
        }
      } else {
        System.err.println(f"[profile] warm rep $r: $dt%.3f s rows=$n")
      }
    }
    spark.stop()
  }
}
