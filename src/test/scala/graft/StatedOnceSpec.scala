package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The SSTable core states each decision once: one micro-batch stream
  * serves both file-set sources, only [[graft.sstable.TaskCommit]]
  * (plus distcp's per-file copy commit) makes a written file visible,
  * only [[graft.sstable.Compaction]] applies the merge rules, only
  * [[graft.sstable.CassType]] types and decodes a value, and only
  * `CassType.sortKey` states a type's order. */
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

  test("CQL columns decode only through CassType: no type ADT or ByteBuffer under cql/") {
    val cql = mainSources.filter(_._1.startsWith("scala/graft/cql/"))
    assert(cql.nonEmpty)
    val offenders = cql.collect {
      case (f, text) if text.contains("sealed trait") || text.contains("ByteBuffer") => f
    }
    assert(offenders.isEmpty, s"a second type system in $offenders")
  }

  test("exactly one type-argument splitter in src/main") {
    // a splitter cuts at the commas outside any nesting
    val split = raw"(','.*depth\s*==\s*0|depth\s*==\s*0.*',')".r
    val found = mainSources.flatMap { case (f, text) => split.findAllIn(text).map(_ => f) }
    assert(found == Seq("scala/graft/sstable/CassTypes.scala"), s"splitters: $found")
  }

  test("a type's order is stated only by CassType.sortKey: no byte-array compare in src/main") {
    // a second statement of the order (a typed compare beside the sort
    // key) can drift from the order the shuffle sorted in
    val compare = raw"def\s+compare\s*\(\s*\w+\s*:\s*Array\[Byte\]".r
    val found = mainSources.collect {
      case (f, text) if compare.findFirstIn(text).isDefined || text.contains("unsignedCompare") => f
    }
    assert(found.isEmpty, s"a second byte-array order in $found")
  }
}
