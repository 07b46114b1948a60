package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The SSTable core states each decision once: one micro-batch stream
  * serves both file-set sources, only [[graft.sstable.TaskCommit]]
  * (plus distcp's per-file copy commit) makes a written file visible,
  * and only [[graft.sstable.Compaction]] applies the merge rules. */
class StatedOnceSpec extends AnyFunSuite {

  private def mainSources: Seq[(String, String)] = {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"no src/main under ${sys.props("user.dir")}")
    Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => main.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
  }

  test("exactly one MicroBatchStream implementation in src/main") {
    val impl = raw"(extends|with)\s+[\w.]*\bMicroBatchStream\b".r
    val found = mainSources.flatMap { case (f, text) => impl.findAllIn(text).map(_ => f) }
    assert(found == Seq("scala/graft/sstable/FileSetScan.scala"), s"implementations: $found")
  }

  test("FileSystem.rename only in TaskCommit.scala and tools/ParallelCopy.scala") {
    val renamers = mainSources.collect {
      case (f, text) if raw"\.rename\(".r.findFirstIn(text).isDefined => f
    }.sorted
    assert(renamers == Seq("scala/graft/sstable/TaskCommit.scala", "scala/graft/tools/ParallelCopy.scala"),
      s"rename called from $renamers")
  }

  test("range-tombstone bounds (.rtMax) read only by Compaction.scala and the reader that emits them") {
    // a second merge needs the upper bound to decide coverage; the
    // streaming fold goes through Compaction.merge instead
    val readers = mainSources.collect {
      case (f, text) if raw"\.rtMax\b".r.findFirstIn(text).isDefined => f
    }.sorted
    assert(readers == Seq("scala/graft/sstable/Compaction.scala", "scala/graft/sstable/SSTableSource.scala"),
      s".rtMax read in $readers")
  }
}
