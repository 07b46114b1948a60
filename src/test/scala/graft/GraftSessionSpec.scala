package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One session conf for every entry point and suite: [[GraftSession]]
  * is the only place a SparkSession is built. */
class GraftSessionSpec extends AnyFunSuite {

  test("only GraftSession calls the SparkSession builder") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"no src/ under ${sys.props("user.dir")}")
    val needle = "SparkSession" + ".builder("
    val callers = Files.walk(src).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(p => src.relativize(p).toString).toSet
    assert(callers == Set("main/scala/graft/GraftSession.scala"))
  }

  test("the session carries the one conf set") {
    val spark = TestUtil.session()
    val cores = GraftSession.cpusFromEnv(sys.env.get)
    assert(spark.sparkContext.master == sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString)
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "256k")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
