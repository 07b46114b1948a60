package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan, SortExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, lit, size, sum}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftSSTable
import graft.sstable._

/** Task metrics of every job run under one cut, gathered by the job's
  * `perfbench.cut` local property. */
final class CutListener extends SparkListener {
  final class Cut {
    var jobsStarted = 0
    var jobsEnded = 0
    val taskSeconds = mutable.ArrayBuffer[(Int, Double)]() // (jobId, duration)
    var shuffleWrite = 0L
    var fetchWaitMs = 0L
    var recordsWritten = 0L
  }
  private val cuts = mutable.Map[String, Cut]()
  private val stageCut = mutable.Map[Int, (String, Int)]()

  def cut(name: String): Cut = synchronized(cuts.getOrElseUpdate(name, new Cut))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.cut"))).getOrElse("other")
    cut(name).jobsStarted += 1
    e.stageIds.foreach(s => stageCut(s) = (name, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    stageCut.collectFirst { case (_, (n, j)) if j == e.jobId => n }.foreach(n => cut(n).jobsEnded += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageCut.get(e.stageId).foreach { case (name, job) =>
      val c = cut(name)
      c.taskSeconds += ((job, e.taskInfo.duration / 1000.0))
      Option(e.taskMetrics).foreach { m =>
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }
  /** true once every job started under `name` has ended */
  def settled(name: String): Boolean = synchronized { val c = cut(name); c.jobsStarted == c.jobsEnded }
}

/** Keeps the executed plan of each write into the noop sink, in order. */
final class PlanListener extends QueryExecutionListener {
  val plans = new java.util.concurrent.LinkedBlockingQueue[Seq[SparkPlan]]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val all = Trace.nodes(qe.executedPlan)
    if (all.exists(_.getClass.getSimpleName.startsWith("OverwriteByExpression"))) plans.put(all)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** The traced run: the CLI's pipeline, called through the same public
  * `GraftSSTable` functions with the CLI's arguments and session
  * settings, cut at each layer boundary and timed from outside; then the
  * single-thread kernel timers. */
object Trace {
  final case class Span(name: String, parent: String, start: Double, end: Double)

  /** the metrics each span reports, by name prefix */
  private val SpanMetrics = Map("plan" -> Seq("plan."), "scan" -> Seq("scan."),
    "compact" -> Seq("exchange.", "sort.", "compact.", "merge."), "render" -> Seq("render."),
    "sink" -> Seq("sink.", "pivot."))

  /** the SSTable2Json argument handling this benchmark's flags use */
  final case class Cli(blocksize: String, sstable: Option[String], compress: Boolean, schema: Option[String],
      cql: Option[String]) {
    def readerOptions: Map[String, String] =
      Map("blocksize" -> blocksize, "skipCorrupt" -> "false") ++ schema.map(s => "cql" -> read(s))
    private def read(p: String) = new String(Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    /** the column-name comparator the scan configures */
    def nameType: CassType =
      schema.map(s => graft.cql.CqlTable.parse(read(s)).comparatorMarshal).getOrElse(CassType.BytesType)
    /** the key and name types aeg-JSON renders with, as the CLI derives them */
    def renderTypes(atoms: DataFrame): (String, String) =
      (GraftSSTable.configuredKeyType(atoms).map(_.typeName).getOrElse("BytesType"),
        GraftSSTable.configuredColumnType(atoms).map(_.typeName).getOrElse("BytesType"))

    def sink(atoms: DataFrame, compacted: Dataset[CompactedRow], out: String): Unit = (sstable, cql) match {
      case (_, Some(c)) => GraftSSTable.pivotToRelational(compacted, read(c)).write.mode("overwrite").parquet(out)
      case (Some(v), _) => GraftSSTable.writeSSTable(compacted, out, v, compress = compress, codec = "LZ4Compressor")
      case (None, None) =>
        val (kt, nt) = renderTypes(atoms)
        GraftSSTable.writeAegJson(compacted, out, numFiles = 1, keyType = kt, nameType = nt)
    }
  }
  object Cli {
    def apply(flags: Seq[String]): Cli = {
      def opt(p: String) = flags.find(_.startsWith(p + ":")).map(_.stripPrefix(p + ":"))
      Cli(flags.headOption.filter(f => f.nonEmpty && f.forall(_.isDigit)).getOrElse((64L << 20).toString),
        opt("sstable"), flags.contains("compress"), opt("schemafile"), opt("cqlfile"))
    }
  }

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def mib(bytes: Double) = bytes / (1 << 20)
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def run(w: Workload, corpus: Path, work: Path, flags: Seq[String]): String = {
    val cli = Cli(flags)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("sstable2json")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tasks = new CutListener
    val plans = new PlanListener
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(plans)
    val dir = corpus.toString
    val inputBytes = Kernels.dataFiles(corpus).map(Files.size).sum.toDouble
    def compacted() = {
      val atoms = GraftSSTable.readAtoms(spark, dir, cli.readerOptions)
      (atoms, GraftSSTable.compact(atoms))
    }
    def now = System.currentTimeMillis() / 1000.0
    val spans = mutable.ArrayBuffer[Span]()
    /** the executed plan of the next noop write */
    def nextPlan(): Seq[SparkPlan] =
      Option(plans.plans.poll(10, java.util.concurrent.TimeUnit.SECONDS)).getOrElse(Nil)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    final case class CutRun(seconds: Double, tag: String, plan: Seq[SparkPlan])
    /** Runs `body` under its own listener tag and records its span, its
      * tag's task metrics and, for noop writes, its executed plan. */
    def cut(name: String, parent: String, noopPlan: Boolean = true)(body: => Unit): CutRun = {
      spark.sparkContext.setLocalProperty("perfbench.cut", name)
      val t0 = now
      body
      val t1 = now
      spark.sparkContext.setLocalProperty("perfbench.cut", null)
      val deadline = System.nanoTime() + 10000000000L
      while (!tasks.settled(name) && System.nanoTime() < deadline) Thread.sleep(5)
      spans += Span(name, parent, t0, t1)
      CutRun(t1 - t0, name, if (noopPlan) nextPlan() else Nil)
    }

    // untimed warm-up of the scan, shuffle and merge: one compaction that
    // counts its output rows and cells
    val obs = Observation("merge")
    noop(compacted()._2.toDF().observe(obs, count(lit(1)).as("rows"), sum(size(col("columns"))).as("cells")))
    nextPlan()
    val rowsOut = obs.get("rows").asInstanceOf[Long].toDouble
    val cellsOut = obs.get("cells").asInstanceOf[Long].toDouble

    // plan: the source's own planner entry points
    var planned = (0, 0, 0)
    val plan = cut("plan", "trace", noopPlan = false) {
      val conf = spark.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      val files = SSTableSource.listDataFiles(fs, root).map(st => (fs, st))
      val parts = SSTableSource.planFilesParallel(files, cli.blocksize.toLong, None)
      planned = (files.size, parts.size, SSTableSource.combineSplits(parts, Map.empty).length)
    }
    val (nFiles, nSplits, nTasks) = planned
    // scan: readAtoms into the noop sink
    val scan = cut("scan", "plan") { noop(GraftSSTable.readAtoms(spark, dir, cli.readerOptions)) }
    val scanAtoms = scan.plan.collect { case b: BatchScanExec => b.metrics("numOutputRows").value }.sum
    val scanTasks = tasks.cut(scan.tag).taskSeconds.map(_._2).toSeq
    // compact: the shuffle, the sort and the merge, into the noop sink. Only
    // each row's key is kept: the aeg-JSON path never serializes whole
    // CompactedRows (Spark drops the encoder between the merge and the
    // render map), so the cut must not charge that encoder to the merge;
    // sinks that shuffle compacted rows pay it inside sink.s
    val compact = cut("compact", "scan") { noop(compacted()._2.map(_.key)(Encoders.BINARY).toDF()) }
    val sorts = compact.plan.collect { case s: SortExec => s.metrics }
    def sortMetric(m: String) = sorts.flatMap(_.get(m)).map(_.value.toDouble).sum
    // render (aeg-JSON sink only)
    val renders = w.sink == AegJsonSink
    val render = if (!renders) compact else cut("render", "compact") {
      val (atoms, rows) = compacted()
      val (kt, nt) = cli.renderTypes(atoms)
      noop(GraftSSTable.aegJsonLines(rows, kt, nt).toDF())
    }
    // sink: the full call, as the CLI makes it
    val out = work.resolve("trace-out")
    val full = cut("sink", if (renders) "render" else "compact", noopPlan = false) {
      val (atoms, rows) = compacted()
      cli.sink(atoms, rows, out.toString)
    }
    val sinkCut = tasks.cut(full.tag)
    val lastJob = if (sinkCut.taskSeconds.isEmpty) -1 else sinkCut.taskSeconds.map(_._1).max
    val compactListener = tasks.cut(compact.tag)
    spark.stop()

    val k = Kernels.run(w, corpus, cli.nameType)
    val gcS = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans).asScala.map(_.getCollectionTime).sum / 1000.0
    val scanMedian = if (scanTasks.isEmpty) 0.0 else median(scanTasks)
    val metrics = Seq[(String, Any)](
      "plan.s" -> plan.seconds,
      "plan.files" -> nFiles,
      "plan.splits" -> nSplits,
      "plan.tasks" -> nTasks,
      "scan.s" -> (scan.seconds - plan.seconds),
      "scan.atoms" -> scanAtoms,
      "scan.task_max_over_median" -> (if (scanMedian > 0) scanTasks.max / scanMedian else 1.0),
      "exchange.shuffle_write_mib" -> mib(compactListener.shuffleWrite),
      "exchange.bytes_per_input_byte" -> compactListener.shuffleWrite / inputBytes,
      "exchange.fetch_wait_s" -> compactListener.fetchWaitMs / 1000.0,
      "sort.s" -> sortMetric("sortTime") / 1000.0,
      "sort.spill_mib" -> mib(sortMetric("spillSize")),
      "sort.peak_mem_mib" -> mib(sortMetric("peakMemory")),
      "compact.s" -> (compact.seconds - scan.seconds),
      "merge.atoms_in" -> scanAtoms,
      "merge.cells_out" -> cellsOut,
      "merge.rows_out" -> rowsOut,
      "merge.survivor_ratio" -> cellsOut / scanAtoms,
      "render.s" -> (render.seconds - compact.seconds),
      "sink.s" -> (full.seconds - render.seconds),
      "sink.jobs" -> sinkCut.jobsStarted,
      "sink.shuffle_write_mib" -> mib(sinkCut.shuffleWrite - compactListener.shuffleWrite),
      "sink.task_max_s" -> sinkCut.taskSeconds.filter(_._1 == lastJob).map(_._2).maxOption.getOrElse(0.0),
      "sink.out_mib" -> mib(OutputReader.dataFiles(out).map(Files.size).sum.toDouble),
      "pivot.rows_out" -> (if (w.sink == ParquetSink) sinkCut.recordsWritten else 0L),
      "kernel.scan_atoms_per_s" -> k.scanAtomsPerS,
      "kernel.inflate_mib_per_s" -> k.inflateMibPerS,
      "kernel.merge_atoms_per_s" -> k.mergeAtomsPerS,
      "kernel.render_rows_per_s" -> k.renderRowsPerS,
      "kernel.sstable_write_mib_per_s" -> k.sstableWriteMibPerS,
      "jvm.peak_rss_mib" -> peakRssMib,
      "jvm.gc_s" -> gcS)
    writeSpans(work.resolve("trace-spans.json"), spans.toSeq, metrics)
    Json.obj(metrics: _*)
  }

  private def peakRssMib: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** spans are kept in memory during the run and written out at its end */
  private def writeSpans(file: Path, spans: Seq[Span], metrics: Seq[(String, Any)]): Unit =
    Files.write(file, spans.map { s =>
      val counts = metrics.filter { case (m, _) => SpanMetrics.getOrElse(s.name, Nil).exists(m.startsWith) }
      Json.obj("name" -> s.name, "parent" -> s.parent, "start" -> s.start, "end" -> s.end,
        "metrics" -> counts.toMap)
    }.mkString("[", ",\n", "]\n").getBytes("UTF-8"))
}
