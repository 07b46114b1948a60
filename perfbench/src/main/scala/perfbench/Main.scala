package perfbench

import java.nio.file.Paths

/** Entry point of the benchmark's JVM tools; `perfbench/run.py` drives them.
  *
  * {{{
  * gen   <workload> <seed> <keys>=<dir>...          write corpora and their expected digests
  * check <workload> <out>=<digest>[=drop|alter]...  compare outputs with expected digests
  * trace <workload> <corpusDir> <workDir> [cli flags]  traced run: per-layer cuts and kernels
  * }}}
  * `check` and `trace` print one JSON line. */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: w :: seed :: specs if specs.nonEmpty =>
      specs.map(_.split("=", 2)).foreach { case Array(keys, dir) =>
        Generator.generate(Workload(w), seed.toLong, keys.toInt, Paths.get(dir))
      }
    case "check" :: w :: specs if specs.nonEmpty =>
      val sink = Workload(w).sink
      val results = specs.map { spec =>
        val parts = spec.split("=")
        val out = Paths.get(parts(0))
        val got = try OutputReader.digest(sink, out, parts.lift(2)).toString
          catch { case e: Exception => s"unreadable: $e" }
        Json.obj("out" -> parts(0), "ok" -> (got == parts(1)), "digest" -> got,
          "out_bytes" -> OutputReader.dataFiles(out).map(java.nio.file.Files.size).sum)
      }
      println(results.mkString("[", ",", "]"))
    case "trace" :: w :: corpus :: work :: flags =>
      println(Trace.run(Workload(w), Paths.get(corpus), Paths.get(work), flags))
    case _ =>
      System.err.println("usage: gen <workload> <seed> <keys>=<dir>... | check <workload> <out>=<digest>... | " +
        "trace <workload> <corpusDir> <workDir> [cli flags]")
      sys.exit(2)
  }
}
