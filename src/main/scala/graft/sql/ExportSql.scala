package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `EXPORT DATABASE '<dir>' [(FORMAT PARQUET | CSV)]` and
  * `IMPORT DATABASE '<dir>'` (io25) — DuckDB's whole-catalog transfer
  * statements, re-expressed over the session's temp-view catalog:
  *
  *  - EXPORT writes every session-bound table (names not starting with
  *    `__`, the prefix of the engine's internal names — machinery, not data)
  *    as `<dir>/<name>.<ext>`, plus a `_graft_tables.txt` manifest
  *    (format on the first line, one table name per line). The target
  *    passes the same recursive-delete safety gate as COPY TO.
  *  - IMPORT reads the manifest and binds every listed table back into
  *    the session.
  *
  * Both return a summary table (table_name, n_rows) sorted by name —
  * the rows are counted off the WRITTEN files (export) / the bound
  * views (import), so the returned frame proves the transfer, not just
  * that statements ran. Format default is PARQUET — the only
  * type-exact choice (DuckDB defaults to CSV; divergence documented —
  * pass FORMAT CSV for DuckDB-shaped output, with the usual lossy
  * read-back caveats).
  *
  * Scale shape: one terminal exchange-free write per table (each task
  * writes its partition), one pruned scan per read-back; the manifest
  * is a driver-side byte file. Nothing table-sized reaches the driver.
  */
object ExportSql {

  final case class Stmt(isExport: Boolean, path: String, format: String)

  import Dialect.{stripLiterals, wordAt, skipWsAt => skipWs,
    matchParenAt => matchParen}

  def parse(sql: String): Option[Stmt] = {
    val m = stripLiterals(sql)
    var i = skipWs(m, 0)
    val isExport =
      if (wordAt(m, i, "export")) true
      else if (wordAt(m, i, "import")) false
      else return None
    i = skipWs(m, i + 6)
    if (!wordAt(m, i, "database")) return None
    i += 8
    // the path literal is blank on the mask — walk the raw text
    var k = i
    while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
    require(k < sql.length && sql.charAt(k) == '\'',
      "EXPORT/IMPORT DATABASE needs a single-quoted directory literal")
    val (path, afterLit) = Dialect.scanQuoted(sql, k, "DATABASE path")
    require(path.nonEmpty && !path.contains("\\"),
      "DATABASE path must be a plain non-empty literal")
    var p = skipWs(m, afterLit)
    var format = "parquet"
    if (p < m.length && m.charAt(p) == '(') {
      require(isExport,
        "IMPORT DATABASE takes no options — the manifest carries the " +
          "format")
      val close = matchParen(m, p)
      val inner = sql.substring(p + 1, close).trim
      val parts = inner.split("\\s+", 2)
      require(parts.length == 2 && parts(0).equalsIgnoreCase("format"),
        s"EXPORT DATABASE options: (FORMAT PARQUET | CSV), got: $inner")
      format = parts(1).trim.toLowerCase
      require(Set("parquet", "csv").contains(format),
        s"EXPORT DATABASE FORMAT must be PARQUET or CSV, got: $format")
      p = skipWs(m, close + 1)
    }
    require(p >= m.length,
      s"unexpected text after the statement: ${sql.substring(p).take(40)}")
    Some(Stmt(isExport, path, format))
  }

  private val Manifest = "_graft_tables.txt"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def run(spark: SparkSession, st: Stmt): DataFrame = {
    import spark.implicits._
    if (st.isExport) {
      val names = spark.catalog.listTables().collect()
        .filter(_.isTemporary).map(_.name)
        .filterNot(_.startsWith("__")).sorted.toSeq
      require(names.nonEmpty,
        "EXPORT DATABASE: the session binds no tables to export")
      CopySql.assertSafeTarget(spark, st.path)
      val counted = names.map { n =>
        val target = s"${st.path}/$n.${st.format}"
        val w = spark.table(n).write.mode("overwrite")
        val back = st.format match {
          case "parquet" => w.parquet(target); spark.read.parquet(target)
          case _ =>
            w.option("header", "true").csv(target)
            spark.read.option("header", "true")
              .option("inferSchema", "true").csv(target)
        }
        (n, back.count())
      }
      val mf = fs(spark, st.path)
      val out = mf.create(
        new org.apache.hadoop.fs.Path(s"${st.path}/$Manifest"), true)
      // each table line carries the exact schema DDL after a tab so a
      // CSV re-import is type-exact (no inferSchema lossiness); parquet
      // imports ignore it (the footer is authoritative)
      val lines = names.map(n => s"$n\t${spark.table(n).schema.toDDL}")
      out.write((st.format +: lines).mkString("\n").getBytes("UTF-8"))
      out.close()
      counted.toDF("table_name", "n_rows")
    } else {
      val mf = fs(spark, st.path)
      val mPath = new org.apache.hadoop.fs.Path(s"${st.path}/$Manifest")
      require(mf.exists(mPath),
        s"IMPORT DATABASE: no $Manifest under '${st.path}' — not a " +
          "prior EXPORT DATABASE target")
      val lines = {
        val in = mf.open(mPath)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList
        finally in.close()
      }
      require(lines.nonEmpty, "empty DATABASE manifest")
      val format = lines.head.trim
      // "name" (pre-r18 manifests) or "name\tschemaDDL"
      val entries = lines.tail.map(_.trim).filter(_.nonEmpty).map { ln =>
        val tab = ln.indexOf('\t')
        if (tab < 0) (ln, None)
        else (ln.substring(0, tab).trim, Some(ln.substring(tab + 1).trim))
      }
      require(entries.nonEmpty, "DATABASE manifest lists no tables")
      val counted = entries.map { case (n, ddl) =>
        require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"malformed table name in manifest: '$n'")
        val target = s"${st.path}/$n.$format"
        val df = format match {
          case "parquet" => spark.read.parquet(target)
          case _ =>
            val rd = spark.read.option("header", "true")
            ddl match {
              case Some(d) => rd.schema(
                org.apache.spark.sql.types.StructType.fromDDL(d)).csv(target)
              case None => rd.option("inferSchema", "true").csv(target)
            }
        }
        df.createOrReplaceTempView(n)
        (n, df.count())
      }
      counted.toDF("table_name", "n_rows")
    }
  }
}
