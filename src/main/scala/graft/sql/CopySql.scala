package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `COPY … TO '<path>'` export (io21) and `COPY … FROM '<path>'` import
  * (io22) statement forms — DuckDB's file-transfer surface:
  *
  *   COPY name TO 'path' [(FORMAT PARQUET | CSV | JSON, …)]
  *   COPY ( <select statement> ) TO 'path' [(FORMAT …, …)]
  *   COPY name FROM 'path' [(FORMAT …, …)]
  *
  * CSV options (DuckDB grammar, probed): `HEADER [true|false]` (bare
  * HEADER = true; the default), `DELIMITER|DELIM|SEP '<char>'`, and the
  * dirty-CSV fidelity trio (r18): `QUOTE '<char>'`, `ESCAPE '<char>'`
  * (DuckDB's default escape IS the quote char — QUOTE without ESCAPE
  * sets both, quote-doubling style; write '\\' for a backslash escape),
  * `NULLSTR|NULL '<string>'` (the string written for NULL and read back
  * as NULL). The same options apply on write and read, so round-trips
  * are byte-exact. A headerless import maps columns POSITIONALLY into
  * the target schema; headered formats align by NAME.
  *
  * `PARTITION_BY (col, …)` (io23, export only): hive-layout export —
  * key=value directories, one level per column, part files at the
  * leaves; both engines write the identical layout. Downstream scans
  * prune on the partition keys, and the read-back recovers the
  * partition columns from the directory names (moved to the END of the
  * schema — Spark's layout rule).
  *
  * The format defaults from the path extension (.parquet / .csv / .json
  * / .ndjson) when no FORMAT option is given — DuckDB's rule. Both
  * directions RETURN a table (the u09/u10 statement-form convention):
  * COPY TO returns the exported dataset READ BACK from the written
  * files (the returned frame proves the round-trip, not just the
  * write); COPY FROM returns the post-statement table — the target
  * table with the file's rows APPENDED (DuckDB appends into an existing
  * table), file columns aligned to the target schema by NAME and cast
  * into its types. Parquet round-trips arrow types exactly; CSV is
  * written with a header and read back with schema inference; JSON is
  * newline-delimited (DuckDB's default JSON export shape) and loses
  * date/timestamp typing to strings on read-back — the lossy-format
  * divergences every engine shares, documented rather than hidden.
  *
  * Overwrite safety (advice r16): Spark's overwrite mode RECURSIVELY
  * DELETES the target directory, where DuckDB's COPY replaces a single
  * file — a mistyped path in a SQL statement must not wipe an arbitrary
  * tree. COPY TO therefore refuses a non-empty existing target unless
  * it looks like a prior export (a directory carrying _SUCCESS or
  * part-* files — Spark's own writer layout).
  *
  * Spark writes a DIRECTORY of part files where DuckDB writes one file —
  * the distributed-writer shape; the path names the dataset, not a
  * single file. Scale shape: the write is the terminal exchange-free
  * action of the defining plan (each task writes its partition — this
  * is exactly how a 100 TB export must fan out); the read-back and the
  * import are fresh pruned scans, and the import's append is one
  * shuffle-free union.
  */
object CopySql {

  final case class Stmt(ref: String, isSubquery: Boolean, toTarget: Boolean,
                        path: String, format: String,
                        header: Boolean = true, delimiter: String = ",",
                        partitionBy: Seq[String] = Nil,
                        quote: Option[String] = None,
                        escape: Option[String] = None,
                        nullStr: Option[String] = None)

  import Dialect.{stripLiterals, wordAt, matchParenAt => matchParen,
    skipWsAt => skipWs}

  /** First-word dispatch (masked scan): None unless the statement is
    * COPY … TO/FROM. Malformed COPY fails loudly from here.
    */
  def parse(sql: String): Option[Stmt] = {
    val m = stripLiterals(sql)
    var i = skipWs(m, 0)
    if (!wordAt(m, i, "copy")) return None
    i = skipWs(m, i + 4)
    val (ref, isSub, afterRef) =
      if (i < m.length && m.charAt(i) == '(') {
        val close = matchParen(m, i)
        (sql.substring(i + 1, close).trim, true, skipWs(m, close + 1))
      } else {
        val ns = i
        var j = i
        while (j < m.length && !m.charAt(j).isWhitespace) j += 1
        (sql.substring(ns, j), false, skipWs(m, j))
      }
    require(ref.nonEmpty, "empty COPY source")
    if (!isSub) require(Dialect.isBareIdentifier(ref),
      s"COPY must name a table or a parenthesized statement, got: $ref " +
        "(a COPY column list is not supported — project in a subquery)")
    var k = afterRef
    val toTarget =
      if (wordAt(m, k, "to")) { k += 2; true }
      else if (wordAt(m, k, "from")) { k += 4; false }
      else throw new IllegalArgumentException(
        "COPY requires TO '<path>' (export) or FROM '<path>' (import)")
    require(toTarget || !isSub,
      "COPY FROM imports into a named table — a subquery cannot receive " +
        "rows")
    // the path literal is INVISIBLE on the mask (quotes included), so
    // walk the original text: skip real whitespace, then scan the
    // literal with its doubled-quote and backslash escapes
    while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
    val (path, afterPath) = Dialect.scanQuoted(sql, k, "COPY path")
    require(path.nonEmpty && !path.contains("'") && !path.contains("\\"),
      "COPY path must be a plain non-empty literal")
    k = skipWs(m, afterPath)
    var format = ""
    var header: Option[Boolean] = None
    var delim: Option[String] = None
    var partitionBy: Seq[String] = Nil
    var quote: Option[String] = None
    var escape: Option[String] = None
    var nullStr: Option[String] = None
    // one-character quoted option value: '<c>' or the Spark-spelled
    // escape '\\' (a bare '\'' backslash literal breaks SQL literal
    // masking upstream, so the doubled spelling is the supported one)
    def oneChar(what: String, raw: String): String = {
      val v = raw.trim
      if (v == "'\\\\'") "\\"
      else if (v == "''''") "'"
      else {
        require(v.length == 3 && v.head == '\'' && v.last == '\'',
          s"COPY $what needs a quoted ONE-character value, got: $v")
        v.substring(1, 2)
      }
    }
    if (k < m.length && m.charAt(k) == '(') {
      val close = matchParen(m, k)
      // options parse over the RAW slice (a DELIMITER literal is
      // invisible on the mask); splitTopLevel keeps quoted commas whole
      Dialect.splitTopLevel(sql.substring(k + 1, close)).foreach { item =>
        val parts = item.trim.split("\\s+", 2)
        parts(0).toLowerCase match {
          case "format" =>
            require(parts.length == 2, "COPY FORMAT needs a value")
            format = parts(1).trim.toLowerCase
            require(format.matches("[a-z]+"),
              s"malformed COPY FORMAT: ${parts(1).trim}")
          case "header" => // bare HEADER means true (DuckDB, probed)
            val v =
              if (parts.length == 1) "true" else parts(1).trim.toLowerCase
            header = Some(v match {
              case "true" | "1" | "on" => true
              case "false" | "0" | "off" => false
              case other => throw new IllegalArgumentException(
                s"malformed COPY HEADER value: $other")
            })
          case "delimiter" | "delim" | "sep" =>
            require(parts.length == 2,
              "COPY DELIMITER needs a quoted value")
            delim = Some(oneChar("DELIMITER", parts(1)))
          // the dirty-CSV fidelity trio (io21/io22 ext, r18; DuckDB
          // grammar) — mapped onto Spark's csv quote/escape/nullValue.
          // DuckDB's default escape IS the quote char (doubling), so a
          // QUOTE without an ESCAPE sets both; Spark's backslash
          // default applies only when neither is given.
          case "quote" =>
            require(parts.length == 2, "COPY QUOTE needs a quoted value")
            quote = Some(oneChar("QUOTE", parts(1)))
          case "escape" =>
            require(parts.length == 2, "COPY ESCAPE needs a quoted value")
            escape = Some(oneChar("ESCAPE", parts(1)))
          case "nullstr" | "null" =>
            require(parts.length == 2,
              "COPY NULLSTR needs a quoted value")
            val v = parts(1).trim
            require(v.length >= 2 && v.head == '\'' && v.last == '\'',
              s"COPY NULLSTR needs a quoted value, got: $v")
            nullStr = Some(v.substring(1, v.length - 1).replace("''", "'"))
          case "partition_by" =>
            require(parts.length == 2,
              "COPY PARTITION_BY needs a column list")
            val v = parts(1).trim
            val cols =
              if (v.startsWith("(")) {
                require(v.endsWith(")"),
                  s"unbalanced parens in PARTITION_BY: $v")
                v.substring(1, v.length - 1).split(",").map(_.trim).toSeq
              } else Seq(v)
            cols.foreach(c => require(Dialect.isBareIdentifier(c),
              s"PARTITION_BY needs bare column names, got: '$c'"))
            require(cols.distinct.size == cols.size,
              "duplicate column in PARTITION_BY")
            partitionBy = cols
          case other => throw new IllegalArgumentException(
            s"COPY option '$other' is not supported — FORMAT, HEADER, " +
              "DELIMITER/DELIM/SEP, QUOTE, ESCAPE, NULLSTR and " +
              "PARTITION_BY are")
        }
      }
      k = skipWs(m, close + 1)
    }
    require(k >= m.length,
      s"unexpected text after COPY options: ${sql.substring(k).trim.take(40)}")
    if (format.isEmpty) {
      val p = path.toLowerCase
      format =
        if (p.endsWith(".parquet")) "parquet"
        else if (p.endsWith(".csv")) "csv"
        else if (p.endsWith(".json") || p.endsWith(".ndjson")) "json"
        else ""
    }
    require(Set("parquet", "csv", "json").contains(format),
      "COPY needs FORMAT PARQUET, CSV or JSON (or a matching path " +
        "extension) — other formats are not supported")
    require(format == "csv" || (header.isEmpty && delim.isEmpty &&
      quote.isEmpty && escape.isEmpty && nullStr.isEmpty),
      "HEADER/DELIMITER/QUOTE/ESCAPE/NULLSTR are CSV options — not " +
        "valid for " + format)
    require(toTarget || partitionBy.isEmpty,
      "PARTITION_BY is an export (COPY ... TO) option — an import " +
        "discovers the layout from the files")
    Some(Stmt(ref, isSub, toTarget, path, format,
      header.getOrElse(true), delim.getOrElse(","), partitionBy,
      quote, escape, nullStr))
  }

  /** Apply the dirty-CSV fidelity trio (QUOTE/ESCAPE/NULLSTR, r18) to a
    * reader or writer builder symmetrically — the SAME options on both
    * directions is what makes the round-trip byte-exact. DuckDB's
    * default escape IS the quote char (quote doubling), so QUOTE
    * without ESCAPE sets both; Spark's backslash default applies only
    * when neither option is given.
    */
  private def csvFidelity[B](st: Stmt, b: B)(opt: (B, String, String) => B): B = {
    var out = b
    st.quote.foreach { q =>
      out = opt(opt(out, "quote", q), "escape", st.escape.getOrElse(q))
    }
    st.escape.foreach(e => out = opt(out, "escape", e))
    st.nullStr.foreach(n => out = opt(out, "nullValue", n))
    out
  }

  /** The COPY TO overwrite gate: allow a fresh path, an empty
    * directory, or a directory that looks like a prior Spark export
    * (_SUCCESS / part-* / _temporary entries, possibly nested under
    * partition dirs — checked one level down too); refuse everything
    * else LOUDLY before `mode("overwrite")` recursively deletes it.
    */
  private[sql] def assertSafeTarget(spark: SparkSession, path: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return
    def refuse(why: String): Nothing = throw new IllegalArgumentException(
      s"COPY TO target '$path' exists and $why — Spark's overwrite " +
        "deletes the whole tree recursively (unlike DuckDB's " +
        "single-file COPY); remove it yourself or point at a fresh path")
    val st = fs.getFileStatus(hPath)
    if (!st.isDirectory) refuse("is a plain file, not a prior export")
    val entries = fs.listStatus(hPath).toSeq
    if (entries.isEmpty) return
    def exportMarker(n: String): Boolean =
      n == "_SUCCESS" || n == "_temporary" || n.startsWith("part-") ||
        n.startsWith(".part-") || n == "_metadata" || n == "_common_metadata"
    // a partitioned export nests key=value directories (one level per
    // PARTITION_BY column) with part files at the leaves — walk them,
    // depth-capped (a deliberate deep tree should be removed by hand)
    def partitionedLayout(
        e: org.apache.hadoop.fs.FileStatus, depth: Int): Boolean =
      e.isDirectory && depth <= 8 && e.getPath.getName.contains("=") &&
        fs.listStatus(e.getPath).forall(c =>
          exportMarker(c.getPath.getName) || partitionedLayout(c, depth + 1))
    val ok = entries.forall { e =>
      exportMarker(e.getPath.getName) || partitionedLayout(e, 1)
    }
    if (!ok) refuse("does not look like a prior export (no _SUCCESS / " +
      "part-* layout)")
  }

  /** Execute: resolve the source (bare name → session catalog,
    * subquery → the caller's full pipeline). TO writes + reads back;
    * FROM reads the files, aligns them to the target schema by name,
    * and returns target ∪ file rows.
    */
  def run(spark: SparkSession, st: Stmt,
          resolve: String => DataFrame): DataFrame =
    if (st.toTarget) {
      val src = resolve(st.ref)
      assertSafeTarget(spark, st.path)
      // PARTITION_BY: hive-layout export (key=value directories) — the
      // 100 TB export shape: each task writes its partition files under
      // the layout, downstream scans prune on the partition keys. The
      // read-back recovers the partition columns from the directory
      // names (they move to the END of the schema — Spark's layout
      // rule; alignment downstream is by NAME).
      val w0 = src.write.mode("overwrite")
      val w = if (st.partitionBy.isEmpty) w0
              else w0.partitionBy(st.partitionBy: _*)
      st.format match {
        case "parquet" =>
          w.parquet(st.path)
          spark.read.parquet(st.path)
        case "csv" =>
          csvFidelity(st,
            w.option("header", st.header.toString)
              .option("sep", st.delimiter))(_.option(_, _)).csv(st.path)
          csvFidelity(st,
            spark.read.option("header", st.header.toString)
              .option("sep", st.delimiter).option("inferSchema", "true"))(
            _.option(_, _)).csv(st.path)
        case "json" =>
          w.json(st.path)
          spark.read.json(st.path)
      }
    } else {
      val target = resolve(st.ref)
      val incoming = st.format match {
        case "parquet" => spark.read.parquet(st.path)
        case "csv" => csvFidelity(st,
          spark.read.option("header", st.header.toString)
            .option("sep", st.delimiter).option("inferSchema", "true"))(
          _.option(_, _)).csv(st.path)
        case "json" => spark.read.json(st.path)
      }
      // a HEADERLESS csv carries no names — map POSITIONALLY into the
      // target schema (DuckDB's rule); named formats align by NAME
      // (unmatched target columns would silently null-fill on a
      // reordered file if those aligned positionally)
      val aligned =
        if (st.format == "csv" && !st.header) {
          require(incoming.columns.length == target.columns.length,
            s"COPY FROM (HEADER false): file at '${st.path}' has " +
              s"${incoming.columns.length} columns, target has " +
              s"${target.columns.length}")
          target.schema.fields.toSeq.zip(incoming.columns).map {
            case (f, c) => incoming.col(s"`$c`").cast(f.dataType).as(f.name)
          }
        } else target.schema.fields.toSeq.map { f =>
          val src = incoming.columns.find(_.equalsIgnoreCase(f.name))
            .getOrElse(throw new IllegalArgumentException(
              s"COPY FROM: file at '${st.path}' has no column '${f.name}' " +
                s"(file has: ${incoming.columns.mkString(", ")})"))
          incoming.col(s"`$src`").cast(f.dataType).as(f.name)
        }
      target.union(incoming.select(aligned: _*))
    }
}
