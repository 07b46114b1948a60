package graft.sstable

import scala.collection.mutable.ArrayBuffer

/** One parsed aeg-JSON row (the Pig-loader-replacement read model,
  * SURVEY §3.3): rendered key + deletedAt + positional column arrays
  * normalized into a struct per cell. */
final case class AegRow(key: String, deletedAt: Long, columns: Seq[AegCell])

final case class AegCell(
    name: String,
    value: String,
    ts: Long,
    status: Option[String], // None (live) | d | e | c
    ttl: Option[Long],
    localDeletionTime: Option[Long],
    tsOfLastDelete: Option[Long])

/** Hand-rolled codec for the aeg-JSON line format (X6/X7) — `from_json`
  * cannot express the positional heterogeneous arrays
  * (reference `aegisthus-core/.../AegisthusSerializer.java:49-143`). */
object AegJsonCodec {

  /** Parse one `hexKey\t{json}` line. */
  def parse(line: String): AegRow = {
    val tab = line.indexOf('\t')
    val json = line.substring(tab + 1)
    val p = new P(json)
    p.expect('{')
    val key = p.string()
    p.expect(':'); p.expect('{')
    p.expectLiteral("\"deletedAt\"")
    p.expect(':')
    val deletedAt = p.longVal()
    p.expect(',')
    p.expectLiteral("\"columns\"")
    p.expect(':'); p.expect('[')
    val cols = ArrayBuffer[AegCell]()
    if (p.peek() != ']') {
      var more = true
      while (more) {
        p.expect('[')
        val name = p.string(); p.expect(',')
        val value = p.string(); p.expect(',')
        val ts = p.longVal()
        var status: Option[String] = None
        var ttl: Option[Long] = None
        var ldt: Option[Long] = None
        var told: Option[Long] = None
        if (p.peek() == ',') {
          p.expect(',')
          val st = p.string()
          status = Some(st)
          st match {
            case "e" =>
              p.expect(','); ttl = Some(p.longVal())
              p.expect(','); ldt = Some(p.longVal())
            case "c" =>
              p.expect(','); told = Some(p.longVal())
            case _ =>
          }
        }
        p.expect(']')
        cols += AegCell(name, value, ts, status, ttl, ldt, told)
        more = p.peek() == ','
        if (more) p.expect(',')
      }
    }
    p.expect(']')
    AegRow(key, deletedAt, cols.toSeq)
  }

  /** Pruned parse: key only — skips the header and the whole cell
    * array (keys-only scans pay string-scan cost, not parse cost). */
  def parseKey(line: String): String = {
    val p = new P(line.substring(line.indexOf('\t') + 1))
    p.expect('{')
    p.string()
  }

  /** Pruned parse: key + deletedAt, cell array skipped. */
  def parseHeader(line: String): (String, Long) = {
    val p = new P(line.substring(line.indexOf('\t') + 1))
    p.expect('{')
    val key = p.string()
    p.expect(':'); p.expect('{')
    p.expectLiteral("\"deletedAt\"")
    p.expect(':')
    (key, p.longVal())
  }

  /** Cleanse (F5, reference `pig/AegisthusLoader.java:75-90`): drop
    * columns that are tombstoned (`status == "d"`) or shadowed by the
    * row deletion (`deletedAt > ts`). */
  def cleanse(row: AegRow): AegRow =
    row.copy(columns = row.columns.filterNot(c =>
      c.status.contains("d") || row.deletedAt > c.ts))

  /** Serialize back to the exact line format (round-trip identity —
    * reference AegisthusSerializerTest). */
  def serialize(row: AegRow): String = {
    val sb = new java.lang.StringBuilder
    appendHead(sb, row.key, None, row.deletedAt)
    var first = true
    row.columns.foreach { c =>
      if (!first) sb.append(',')
      first = false
      appendCell(sb, c.name, c.value, c.ts, c.status.orNull, c.ttl.getOrElse(0L),
        c.localDeletionTime.getOrElse(0L), c.tsOfLastDelete.getOrElse(0L))
    }
    appendTail(sb)
    sb.toString
  }

  /** Names of the aeg-JSON files a sink writes, one per partition. */
  val FileNames: scala.util.matching.Regex = raw"aeg-\d{5,}".r

  /** Open partition `part`'s `aeg-%05d` file in `dir` for UTF-8 lines. */
  def create(fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path,
      part: Int): java.io.BufferedWriter =
    new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(new org.apache.hadoop.fs.Path(dir, f"aeg-$part%05d"), true),
      java.nio.charset.StandardCharsets.UTF_8))

  // The line layout (X6, byte-compatible with
  // `output/JsonOutputFormat.java:108-182`):
  // `key\t[source\t]{"key":{"deletedAt":D,"columns":[cell,...]}}`.
  // Every aeg-JSON writer renders through these appenders.

  /** `key\t[source\t]{"key":{"deletedAt":D,"columns":[` */
  def appendHead(sb: java.lang.StringBuilder, key: String, traceSource: Option[String],
      deletedAt: Long): Unit = {
    sb.append(key).append('\t')
    traceSource.foreach(src => sb.append(src).append('\t'))
    sb.append("{\"")
    appendEscaped(sb, key)
    sb.append("\":{\"deletedAt\":").append(deletedAt).append(",\"columns\":[")
  }

  /** One `["name","value",ts]` cell with its status suffix: `,"d"`,
    * `,"e",ttl,localDeletionTime` or `,"c",tsOfLastDelete`; `status`
    * is null for a live cell. */
  def appendCell(sb: java.lang.StringBuilder, name: String, value: String, ts: Long,
      status: String, ttl: Long, localDeletionTime: Long, tsOfLastDelete: Long): Unit = {
    sb.append("[\"")
    appendEscaped(sb, name)
    sb.append("\",\"")
    appendEscaped(sb, value)
    sb.append("\",").append(ts)
    if (status != null) {
      sb.append(",\"").append(status).append('"')
      status match {
        case "e" => sb.append(',').append(ttl).append(',').append(localDeletionTime)
        case "c" => sb.append(',').append(tsOfLastDelete)
        case _ =>
      }
    }
    sb.append(']')
  }

  /** F4's oversize-row marker, written in place of the cells. */
  def appendError(sb: java.lang.StringBuilder, message: String): Unit = {
    sb.append("\"error\",\"")
    appendEscaped(sb, message)
    sb.append("\",0")
  }

  def appendTail(sb: java.lang.StringBuilder): Unit = { sb.append("]}}"); () }

  /** Jackson-compatible minimal JSON string escaping. */
  private def appendEscaped(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      ch match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
  }

  /** Minimal JSON pull-parser for this fixed shape (tolerates escaped
    * strings; numbers are longs). */
  private final class P(s: String) {
    private var i = 0
    def peek(): Char = s.charAt(i)
    def expect(c: Char): Unit = {
      require(s.charAt(i) == c, s"expected '$c' at $i in: $s")
      i += 1
    }
    def expectLiteral(lit: String): Unit = {
      require(s.regionMatches(i, lit, 0, lit.length), s"expected $lit at $i")
      i += lit.length
    }
    def string(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      while (s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'b' => sb.append('\b')
            case 't' => sb.append('\t')
            case 'n' => sb.append('\n')
            case 'f' => sb.append('\f')
            case 'r' => sb.append('\r')
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case other => sb.append(other)
          }
        } else sb.append(c)
        i += 1
      }
      i += 1
      sb.toString
    }
    def longVal(): Long = {
      val start = i
      if (s.charAt(i) == '-') i += 1
      while (i < s.length && s.charAt(i).isDigit) i += 1
      s.substring(start, i).toLong
    }
  }
}
