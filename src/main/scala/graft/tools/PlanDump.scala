package graft.tools

/** Round-16 optimization evidence harness: dump
  * `explain("formatted")` for a set of registered queries to files
  * (`plans/r16/<name>_<tag>.txt`), so plan-shape claims in
  * OPTIMIZATION_r16.md are checkable without running Spark.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.PlanDump <outDir> <tag> <regex>"
  *
  * The dump builds each query's DataFrame exactly the way the bench
  * does (QueryDef.run) and captures the FORMATTED plan of the frame
  * the driver would count(). EAGER operators (the Storage.withCached
  * family) materialize their intermediates at run() time, so the
  * captured plan is the final post-checkpoint frame — the same plan
  * the timed action executes. Their released blocks are freed per
  * query, matching the bench's lifecycle.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val pat = args(2).r
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession("graft-plandump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    graft.SparkEntry.registry
      .filter(q => pat.findFirstIn(q.name).isDefined)
      .foreach { q =>
        try {
          // collect the plans of every eager checkpoint the query
          // materializes (the frames the timed action actually
          // executes) plus the final frame's own plan
          val sections = scala.collection.mutable.ArrayBuffer.empty[String]
          graft.operators.Storage.planSink.set(p => sections += p)
          val df =
            try q.run(spark, sfDir)
            finally graft.operators.Storage.planSink.remove()
          sections += df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val txt = sections.zipWithIndex.map { case (p, i) =>
            val label =
              if (i == sections.size - 1) "final frame"
              else s"eager checkpoint #${i + 1}"
            s"==== plan section: $label ====\n$p"
          }.mkString("\n")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${q.name}_$tag.txt"),
            txt.getBytes("UTF-8"))
          graft.operators.Storage.release(df)
          System.err.println(s"[plandump] wrote ${q.name}_$tag.txt")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] ${q.name} FAILED: $e")
        }
      }
    spark.stop()
  }
}
