package graft.sql

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** DuckDB's file-reading FROM forms (io24):
  *
  *   SELECT … FROM read_parquet('path') [AS t]
  *   SELECT … FROM read_csv('path' [, header = bool] [, delim = 'c']) …
  *   SELECT … FROM read_json('path') …
  *   SELECT … FROM 'path.parquet'            -- bare literal, ext-typed
  *
  * (reference engine-level readers: vinum/io/arrow.py:64-248 read_csv /
  * read_parquet — this is their SQL-surface spelling). The statement
  * rewrite replaces each occurrence with a name of the statement's own
  * and returns the bindings; the session entry point reads each file
  * ([[Bind.read]]: spark.read — a distributed pruned scan, NOT a
  * driver-side load) and runs the rewritten text with the names bound in
  * its plan, as it binds a CTE-headed DML statement's CTEs — the session
  * catalog is never written. `read_csv` defaults to header + schema inference
  * (DuckDB's auto-detect analog); `read_json` reads NDJSON. Aliases
  * (`AS t`) ride unchanged after the replaced span.
  *
  * Scale shape: identical to a catalog table scan — the bound name is a
  * lazy reader plan, so pruning/pushdown reach the file scan exactly as in
  * io01-io04; nothing materializes at bind time.
  *
  * The bare-literal form rewrites only directly after a top-level-or-
  * nested FROM or JOIN keyword (a literal anywhere else is data);
  * its format comes from the extension (.parquet/.csv/.json/.ndjson —
  * DuckDB's rule). A FROM inside trim/extract/substring/overlay
  * argument lists is expression syntax and never rewritten
  * ([[Dialect.insideFromEmbeddingFn]]), and a
  * literal without a data-file extension is left untouched (it is data,
  * e.g. extract(year FROM '2020-01-01')). COPY statements
  * never reach this pass (dispatched earlier), so COPY's own path
  * literals are untouched.
  */
object FileReadSql {

  import Dialect.{stripLiterals, wordAt, matchParenAt, skipWsAt}

  final case class Bind(name: String, kind: String, path: String,
                        header: Boolean = true, delim: String = ",") {

    /** The lazy reader of the file. */
    def read(spark: SparkSession): DataFrame = kind match {
      case "parquet" => graft.api.Catalog.parquet(spark, path)
      case "csv" => spark.read.option("header", header.toString)
        .option("sep", delim).option("inferSchema", "true").csv(path)
      case _ => spark.read.json(path)
    }
  }

  private val Fns = Seq("read_parquet", "read_csv", "read_json")

  /** Quick pre-test so the full scan runs only on candidate statements. */
  def detect(sql: String): Boolean = {
    val m = stripLiterals(sql)
    val lm = m.toLowerCase
    Fns.exists(lm.contains) || {
      // FROM/JOIN followed by a quoted literal (blank on the mask)
      var i = 0
      var hit = false
      while (!hit && i < m.length) {
        val kw =
          if (wordAt(m, i, "from")) 4
          else if (wordAt(m, i, "join")) 4
          else 0
        if (kw > 0) {
          var k = i + kw
          while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
          if (k < sql.length && sql.charAt(k) == '\'' &&
            k < m.length && m.charAt(k) == ' ') hit = true
        }
        i += 1
      }
      hit
    }
  }

  /** Scan the path literal starting at the opening quote in RAW text;
    * returns (path, index just after the closing quote).
    */
  private def pathLit(sql: String, at: Int, what: String): (String, Int) = {
    val (p, after) = Dialect.scanQuoted(sql, at, s"$what path")
    require(p.nonEmpty && !p.contains("\\"),
      s"$what path must be a plain non-empty literal")
    (p, after)
  }

  private def extKind(path: String): Option[String] = {
    val p = path.toLowerCase
    if (p.endsWith(".parquet")) Some("parquet")
    else if (p.endsWith(".csv")) Some("csv")
    else if (p.endsWith(".json") || p.endsWith(".ndjson")) Some("json")
    else None
  }

  /** Rewrite every file-read form to a fresh name, `__file_read_<n>`.
    * None when the statement carries none.
    */
  def rewrite(sql: String): Option[(String, Seq[Bind])] = {
    if (!detect(sql)) return None
    val m = stripLiterals(sql)
    var n = 0
    // (spanStart, spanEndExclusive, bind)
    val hits = ArrayBuffer.empty[(Int, Int, Bind)]
    def fresh(): String = { n += 1; s"__file_read_$n" }
    // ---- pass 1: read_* table functions ----
    var i = 0
    while (i < m.length) {
      Fns.find(f => wordAt(m, i, f)) match {
        case Some(f) =>
          val k = skipWsAt(m, i + f.length)
          if (k < m.length && m.charAt(k) == '(') {
            val close = matchParenAt(m, k)
            var a = k + 1
            while (a < sql.length && sql.charAt(a).isWhitespace) a += 1
            val (path, afterPath) = pathLit(sql, a, s"$f()")
            val kind = f.stripPrefix("read_")
            var header = true
            var delim = ","
            // optional named csv args: `, header = bool`, `, delim = 'c'`
            var p = skipWsAt(m, afterPath)
            while (p < close) {
              require(m.charAt(p) == ',',
                s"malformed $f() arguments near: ${sql.substring(p, close).take(30)}")
              p = skipWsAt(m, p + 1)
              var e = p
              while (e < m.length && (m.charAt(e).isLetterOrDigit ||
                m.charAt(e) == '_')) e += 1
              val argName = sql.substring(p, e).toLowerCase
              require(kind == "csv",
                s"$f() takes only a path — named arguments are " +
                  "read_csv options")
              p = skipWsAt(m, e)
              require(p < close && m.charAt(p) == '=',
                s"$f() option '$argName' needs `= value`")
              // value may be a quoted literal (blank on the mask) —
              // skip whitespace on the RAW text
              p += 1
              while (p < sql.length && sql.charAt(p).isWhitespace) p += 1
              argName match {
                case "header" =>
                  val ve = {
                    var x = p
                    while (x < m.length && m.charAt(x).isLetter) x += 1
                    x
                  }
                  header = sql.substring(p, ve).toLowerCase match {
                    case "true" => true
                    case "false" => false
                    case other => throw new IllegalArgumentException(
                      s"read_csv(header = …) needs true/false, got: $other")
                  }
                  p = skipWsAt(m, ve)
                case "delim" | "sep" | "delimiter" =>
                  val (d, after) = pathLit(sql, p, s"read_csv($argName)")
                  require(d.length == 1,
                    s"read_csv($argName = …) needs ONE character, got: '$d'")
                  delim = d
                  p = skipWsAt(m, after)
                case other => throw new IllegalArgumentException(
                  s"read_csv option '$other' is not supported — header " +
                    "and delim/sep/delimiter are")
              }
            }
            hits += ((i, close + 1, Bind(fresh(), kind, path, header, delim)))
            i = close + 1
          } else i += 1
        case None => i += 1
      }
    }
    // ---- pass 2: FROM/JOIN '<path>' bare literals ----
    i = 0
    while (i < m.length) {
      val kw =
        if (wordAt(m, i, "from")) 4
        else if (wordAt(m, i, "join")) 4
        else 0
      if (kw > 0) {
        var k = i + kw
        // raw-text whitespace skip: the literal is blank on the mask
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        if (k < sql.length && sql.charAt(k) == '\'' &&
          k < m.length && m.charAt(k) == ' ' &&
          !hits.exists(h => k >= h._1 && k < h._2) &&
          !Dialect.insideFromEmbeddingFn(m, i)) {
          val (path, after) = pathLit(sql, k, "FROM")
          extKind(path) match {
            case Some(kind) =>
              hits += ((k, after, Bind(fresh(), kind, path)))
              i = after
            // no data-file extension → a plain string literal (e.g.
            // extract(... FROM '2020-01-01')) — leave it untouched;
            // Spark's parser rejects a true table-position literal loudly
            case None => i = after
          }
        } else i += kw
      } else i += 1
    }
    if (hits.isEmpty) return None
    val sorted = hits.sortBy(_._1)
    val sb = new StringBuilder
    var last = 0
    sorted.foreach { case (s0, e0, b) =>
      // NB: substring, not append(sql, last, s0) — Scala's
      // StringBuilder lacks the 3-arg overload and would auto-tuple
      sb.append(sql.substring(last, s0)).append(b.name)
      last = e0
    }
    sb.append(sql.substring(last))
    Some((sb.toString, sorted.map(_._3).toSeq))
  }
}
