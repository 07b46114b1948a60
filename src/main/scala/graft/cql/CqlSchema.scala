package graft.cql

import org.apache.spark.sql.types.{StructField, StructType}
import graft.sstable.CassType

/** A CQL column, typed by its Cassandra marshal type: the one type
  * both orders it inside a key comparator and decodes its values in
  * the pivot ([[CassType.compose]], [[CassType.sparkType]]). */
final case class CqlColumn(name: String, tpe: CassType, isStatic: Boolean)

/** Parsed CREATE TABLE: the schema-as-config entry point (SURVEY §1.4)
  * — replaces the reference's Cassandra `CreateTableStatement` parse
  * (`util/CFMetadataUtility.java:12-27`) with a small grammar subset. */
final case class CqlTable(
    name: String,
    partitionKeys: Seq[CqlColumn],
    clusteringKeys: Seq[CqlColumn],
    regularColumns: Seq[CqlColumn],
    staticColumns: Seq[CqlColumn],
    descClustering: Set[String] = Set.empty) {

  def allOutputColumns: Seq[CqlColumn] =
    partitionKeys ++ clusteringKeys ++ regularColumns ++ staticColumns

  def sparkSchema: StructType =
    StructType(allOutputColumns.map(c => StructField(c.name, c.tpe.sparkType, nullable = true)))

  /** Partition-key marshal validator (the reference's
    * `CFMetadataUtility`-derived `aegisthus.keytype`): single type, or
    * a composite over the partition-key columns. */
  def keyMarshal: CassType = partitionKeys match {
    case Seq(single) => single.tpe
    case many => CassType.CompositeType(many.map(_.tpe))
  }

  /** CQL3 cell-name comparator (`aegisthus.columntype`): a composite
    * of the clustering-key marshal types (ReversedType-wrapped for
    * `CLUSTERING ORDER BY (... DESC)` keys) plus the trailing UTF8
    * column-identifier component. */
  def comparatorMarshal: CassType = {
    val ckTypes = clusteringKeys.map { c =>
      if (descClustering(c.name)) CassType.ReversedType(c.tpe) else c.tpe
    }
    CassType.CompositeType(ckTypes :+ CassType.UTF8Type)
  }
}

object CqlTable {

  /** CQL type name -> Cassandra marshal type (Cassandra's
    * `CQL3Type.Native`). `counter` values decode as 8-byte longs. */
  private val NativeTypes: Map[String, CassType] = {
    import CassType._
    Map(
      "int" -> Int32Type, "varint" -> IntegerType,
      "bigint" -> LongType, "counter" -> LongType,
      "smallint" -> ShortType, "tinyint" -> ByteType,
      "text" -> UTF8Type, "varchar" -> UTF8Type, "ascii" -> AsciiType,
      "blob" -> BytesType, "uuid" -> UUIDType, "timeuuid" -> TimeUUIDType,
      "timestamp" -> TimestampType, "double" -> DoubleType, "float" -> FloatType,
      "boolean" -> BooleanType, "decimal" -> DecimalType, "inet" -> InetAddressType)
  }

  /** a native CQL type name, or `list<e>`, `set<e>`, `map<k,v>`. */
  private def parseType(s: String): CassType = {
    val t = s.trim.toLowerCase
    val lt = t.indexOf('<')
    if (lt < 0) NativeTypes.getOrElse(t, throw new IllegalArgumentException(s"Unknown CQL type $t"))
    else {
      val args = CassType.splitTop(t.substring(lt + 1, t.lastIndexOf('>'))).map(parseType)
      t.substring(0, lt) match {
        case "list" => CassType.ListType(args.head)
        case "set" => CassType.SetType(args.head)
        case "map" => CassType.MapType(args.head, args(1))
        case other => throw new IllegalArgumentException(s"Unknown CQL type $other<...>")
      }
    }
  }

  private val HeadRe =
    // COLUMNFAMILY: the thrift-era alias still emitted by old dumps
    raw"""(?is)\s*CREATE\s+(?:TABLE|COLUMNFAMILY)\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w."]+)\s*\(""".r

  def parse(cql: String): CqlTable = {
    val (tableName, body) = HeadRe.findPrefixMatchOf(cql) match {
      case Some(m) =>
        // scan to the matching close paren (the WITH clause may contain parens)
        var depth = 1
        var i = m.end
        while (depth > 0 && i < cql.length) {
          cql.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          i += 1
        }
        require(depth == 0, s"Unbalanced parens in CQL: $cql")
        (m.group(1).replace("\"", ""), cql.substring(m.end, i - 1))
      case None => throw new IllegalArgumentException(s"Cannot parse CQL: $cql")
    }
    val parts = CassType.splitTop(body)
    var pkSpec: Option[String] = None
    val cols = Vector.newBuilder[(CqlColumn, Boolean)] // (col, inlinePk)
    parts.foreach { p =>
      val lower = p.toLowerCase
      if (lower.startsWith("primary key")) {
        pkSpec = Some(p.substring(p.indexOf('(')))
      } else {
        val isStatic = lower.endsWith(" static")
        val core = if (isStatic) p.substring(0, p.length - " static".length) else p
        val inlinePk = core.toLowerCase.contains("primary key")
        val cleaned = core.replaceAll("(?i)primary\\s+key", "").trim
        val sp = cleaned.indexOf(' ')
        val name = cleaned.substring(0, sp).replace("\"", "")
        val tpe = parseType(cleaned.substring(sp + 1))
        cols += ((CqlColumn(name, tpe, isStatic), inlinePk))
      }
    }
    val all = cols.result()
    val byName = all.map { case (c, _) => c.name -> c }.toMap

    val (pkNames, ckNames) = pkSpec match {
      case Some(spec) =>
        // ((a, b), c, d) or (a, c, d)
        val inner = spec.trim.stripPrefix("(").stripSuffix(")")
        val tops = CassType.splitTop(inner)
        if (tops.head.startsWith("(")) {
          val pks = CassType.splitTop(tops.head.stripPrefix("(").stripSuffix(")"))
          (pks, tops.tail)
        } else (Seq(tops.head), tops.tail)
      case None =>
        val inline = all.collectFirst { case (c, true) => c.name }
          .getOrElse(throw new IllegalArgumentException("No PRIMARY KEY in CQL"))
        (Seq(inline), Seq.empty)
    }
    val pkSet = pkNames.toSet
    val ckSet = ckNames.toSet
    val regular = all.collect {
      case (c, _) if !pkSet(c.name) && !ckSet(c.name) && !c.isStatic => c
    }
    val statics = all.collect { case (c, _) if c.isStatic => c }
    // WITH CLUSTERING ORDER BY (ck DESC, ...) — DESC keys compact in
    // reversed comparator order (ReversedType in the comparator)
    val desc = ClusteringOrderRe.findFirstMatchIn(cql).map { m =>
      CassType.splitTop(m.group(1)).flatMap { entry =>
        val ps = entry.trim.split("\\s+")
        if (ps.length >= 2 && ps(1).equalsIgnoreCase("desc"))
          Some(ps(0).replace("\"", "")) else None
      }.toSet
    }.getOrElse(Set.empty[String])
    CqlTable(
      tableName,
      pkNames.map(byName(_)),
      ckNames.map(byName(_)),
      regular,
      statics,
      desc)
  }

  private val ClusteringOrderRe =
    raw"(?is)CLUSTERING\s+ORDER\s+BY\s*\(([^)]*)\)".r
}
