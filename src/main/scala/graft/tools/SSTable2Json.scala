package graft.tools

import graft.GraftSSTable

/** CLI analog of the reference's `scripts/sstable2json` wrapper
  * (`/root/reference/scripts/sstable2json:1-3`) plus the main job's
  * `-produceSSTable` mode: compacts a directory of Cassandra SSTables
  * into aeg-JSON files, or into a new compacted SSTable.
  *
  * Usage: SSTable2Json <inputDir> <outputDir> [blocksize] [maxCorrupt]
  *          [sstable:<ver>] [cqlfile:<path>] [schemafile:<path>]
  *          [columntype:<marshal>] [keytype:<marshal>]
  *          [compress | compress:lz4 | compress:snappy | compress:deflate] [avro]
  *
  * `schemafile:`/`columntype:`/`keytype:` configure the marshal types
  * (the reference's `-cql`/`aegisthus.columntype`/`keytype` options):
  * the comparator drives the distributed sort+merge and the rendered
  * aeg-JSON names. `compress` writes chunked-LZ4 sstables
  * (`compress:snappy`/`compress:deflate` pick those codecs, any other
  * codec name is refused before the session starts); `avro`
  * writes the `cqlfile:` pivot as Avro instead of parquet. The session
  * is [[graft.GraftSession]]'s: `SPARK_MASTER` and `SPARK_GRAFT_CPUS`. */
object SSTable2Json {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: SSTable2Json <inputDir> <outputDir> [blocksize] [maxCorrupt] [sstable:<ver>] " +
        "[cqlfile:<path>] [schemafile:<path>] [columntype:<marshal>] [keytype:<marshal>] " +
        "[compress | compress:lz4 | compress:snappy | compress:deflate] [avro]")
    val input = args(0)
    val output = args(1)
    // digit-gated like maxCorrupt: a colon-free flag word (`compress`)
    // in position 2 must not be parsed as a blocksize; absent, the
    // reader's default applies
    val blocksize = args.lift(2).filter(a => a.nonEmpty && a.forall(_.isDigit))
    val maxCorrupt = if (args.length > 3 && args(3).forall(_.isDigit)) args(3).toLong else 0L
    def opt(prefix: String): Option[String] =
      args.find(_.startsWith(prefix + ":")).map(_.stripPrefix(prefix + ":"))
    val produceSSTable = opt("sstable")
    // CQL pivot export (reference org.coursera.SSTableExport analog,
    // but columnar parquet instead of Avro): cqlfile:<path to CREATE TABLE>
    val cqlFile = opt("cqlfile")
    // `compress` = chunked LZ4; `compress:<codec>` selects a Cassandra codec
    val compressArg = args.find(a => a == "compress" || a.startsWith("compress:"))
    val compress = compressArg.isDefined
    val codecs = Map("lz4" -> "LZ4Compressor", "snappy" -> "SnappyCompressor",
      "deflate" -> "DeflateCompressor")
    val codec = opt("compress").map { c =>
      codecs.getOrElse(c.toLowerCase, throw new IllegalArgumentException(
        s"unknown codec '$c' in compress:$c: expected one of lz4, snappy, deflate"))
    }.getOrElse("LZ4Compressor")

    val spark = graft.GraftSession("sstable2json")
    try {
      val typeOpts = Seq(
        opt("schemafile").map(p => "cql" ->
          new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))),
        opt("columntype").map("columnType" -> _),
        opt("keytype").map("keyType" -> _)).flatten.toMap
      val atoms = GraftSSTable.readAtoms(spark, input,
        blocksize.map("blocksize" -> _).toMap ++ typeOpts +
          ("skipCorrupt" -> (maxCorrupt > 0).toString))
      val compacted = GraftSSTable.compact(atoms) // comparator from scan config
      val keyType = GraftSSTable.configuredKeyType(atoms).map(_.typeName).getOrElse("BytesType")
      val nameType = GraftSSTable.configuredColumnType(atoms).map(_.typeName).getOrElse("BytesType")
      (produceSSTable, cqlFile) match {
        case (_, Some(cf)) =>
          val cql = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cf)))
          val df = GraftSSTable.pivotToRelational(compacted, cql)
          if (args.contains("avro")) {
            GraftSSTable.writeAvro(df, output)
            println(s"sstable2json: wrote relational avro to $output (${df.columns.mkString(",")})")
          } else {
            df.write.mode("overwrite").parquet(output)
            println(s"sstable2json: wrote relational parquet to $output (${df.columns.mkString(",")})")
          }
        case (Some(ver), _) =>
          GraftSSTable.writeSSTable(compacted, output, ver, compress = compress, codec = codec)
          println(s"sstable2json: wrote $output/keyspace-dataset-$ver-0000000000-Data.db")
        case (None, None) =>
          GraftSSTable.writeAegJson(compacted, output, numFiles = 1,
            keyType = keyType, nameType = nameType)
          println(s"sstable2json: wrote $output/aeg-00000")
      }
      GraftSSTable.assertCorruptFilesBelow(maxCorrupt)
    } finally spark.stop()
  }
}
