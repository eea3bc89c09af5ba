package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Postgres-compat output formatting — the reference's serialization
  * layer (SURVEY.md §2.7 C1/C2/C7), kept OUT of the engine hot path:
  * tags stay a native MapType end-to-end and these formatters exist only
  * for byte-parity with the reference's COPY text output.
  *
  * C1 reproduces the reference's escaping chain EXACTLY as written
  * (filter.py:92-100), including its quirks (only PAIRS of backslashes
  * are doubled; the `"\n\r"` LF-CR rule) — reference-bug-compatible by
  * decision SURVEY.md §7.4.2.
  */
object HstoreCompat {

  /** C1 — `_sanitize` (filter.py:92-100). Order matters; each step is a
    * literal (non-regex) replace. Python source → runtime chars:
    *   "\\\\"→"\\\\\\\\" : 2 backslashes → 4
    *   '"'  → '\\\\"'    : quote → 2 backslashes + quote
    *   "\n\r" / "\n" / "\r" → 2 backslashes + r
    *   "\t" → 2 backslashes + t
    */
  def sanitize(c: Column): Column = {
    val bs2 = "\\\\"          // 2 backslashes
    val bs4 = bs2 + bs2
    var out = replaceLit(c, bs2, bs4)
    out = replaceLit(out, "\"", bs2 + "\"")
    out = replaceLit(out, "\n\r", bs2 + "r")
    out = replaceLit(out, "\n", bs2 + "r")
    out = replaceLit(out, "\r", bs2 + "r")
    replaceLit(out, "\t", bs2 + "t")
  }

  private def replaceLit(c: Column, search: String, repl: String): Column =
    call_function("replace", c, lit(search), lit(repl))

  /** C2 — `_tags_as_hstore` (filter.py:102-111): `"k"=>"v",...` with
    * TRIM_TAGS keys dropped (F9). Entries are key-sorted for determinism
    * (the reference emits OSM file order, which has no relational
    * meaning).
    */
  def tagsAsHstore(tags: Column, trimTags: Seq[String] = Nil): Column = {
    val entries = sort_array(map_entries(TagMatch.trimTags(tags, trimTags)))
    concat_ws(",", transform(entries, e =>
      concat(lit("\""), sanitize(e.getField("key")), lit("\"=>\""),
        sanitize(e.getField("value")), lit("\""))))
  }

  /** Parse an hstore text literal (`"k"=>"v",...`) back to a map — the
    * inverse of [[tagsAsHstore]] for values the reference escaping can
    * round-trip (the C1 chain is lossy for control characters: LF and
    * CR both map to `\\r`). Handles the quote escape (`\\"` → `"`) and
    * the doubled-backslash-pair escape.
    */
  def parseHstoreString(s: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    def readQuoted(): String = {
      require(s.charAt(i) == '"', s"expected quote at $i in: $s")
      i += 1
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\' && i + 2 < s.length && s.charAt(i + 1) == '\\') {
          s.charAt(i + 2) match {
            case '"' => sb.append('"'); i += 3
            case '\\' if i + 3 < s.length && s.charAt(i + 3) == '\\' =>
              sb.append("\\\\"); i += 4
            case 'r' => sb.append('\r'); i += 3
            case 't' => sb.append('\t'); i += 3
            case _ => sb.append(s.charAt(i)); i += 1
          }
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      i += 1
      sb.toString
    }
    while (i < s.length) {
      val k = readQuoted()
      require(s.startsWith("=>", i), s"expected => at $i in: $s")
      i += 2
      val v = readQuoted()
      out(k) = v
      if (i < s.length && s.charAt(i) == ',') i += 1
    }
    out.toMap
  }

  /** C6 — timestamp to the reference's `%Y-%m-%d %H:%M:%S`
    * (filter.py:147).
    */
  def tstampFormatted(tstamp: Column): Column =
    date_format(tstamp, "yyyy-MM-dd HH:mm:ss")

  /** C7 — the 7-field TSV COPY row (filter.py:139-152); geometry as hex
    * WKB (osmium's WKBFactory emits hex).
    */
  def tsvRow(id: Column, version: Column, userId: Column, tstamp: Column,
      changesetId: Column, tags: Column, geomWkb: Column,
      trimTags: Seq[String] = Nil): Column =
    concat_ws("\t",
      id, version, userId, tstampFormatted(tstamp), changesetId,
      tagsAsHstore(tags, trimTags), lower(hex(geomWkb)))
}
