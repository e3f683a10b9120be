package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** CTAS / view-definition statement forms (u11) — the DuckDB-workflow
  * staples next to the DML family ([[DmlSql]], u10):
  *
  *   CREATE [OR REPLACE] [TEMP | TEMPORARY] TABLE name AS <select>
  *   CREATE [OR REPLACE] [TEMP | TEMPORARY] VIEW  name AS <select>
  *   CREATE [OR REPLACE] [TEMP | TEMPORARY] TABLE name
  *     (col TYPE [NOT NULL], …)                               (u17)
  *
  * This engine's tables are immutable frames bound to session views, so
  * both forms bind `name` in the session catalog AND return the defined
  * table (the u09/u10 returns-the-post-statement-table convention —
  * deliberately diverging from engines that return an empty result;
  * callers chain on either the view name or the returned frame).
  *
  * TABLE vs VIEW is materialized vs recomputed: a TABLE materializes
  * the query's result ONCE (an eager localCheckpoint — a 100 TB
  * pipeline publishing durably should use the WAP writer,
  * [[graft.ops.Wap]], which this form deliberately does not shadow),
  * while a VIEW binds the lazy PLAN and re-executes it per reference.
  * Both resolve names at DEFINITION time (early binding — re-registering
  * a source view later changes neither; the one documented divergence
  * from text-bound views, and the same rule Spark applies to a
  * DataFrame-backed temp view). Without OR REPLACE an existing binding
  * refuses loudly (the standard's already-exists error).
  *
  * Scale shape: VIEW is pure metadata (zero jobs); TABLE costs exactly
  * one materialization of the defining query (executor block storage,
  * the Iterate checkpoint discipline) and every later reference reads
  * the snapshot instead of re-running the plan.
  */
object DdlSql {

  /** `columns` set (and `body` empty) = the schema-defined form (u17):
    * `CREATE TABLE name (col TYPE [NOT NULL], …)` binds an EMPTY frame
    * with the declared schema — the seed INSERT chains build on (this
    * engine's frames are immutable, so "a table with no rows yet" is
    * simply an empty frame). Constraints beyond NOT NULL (PRIMARY KEY,
    * UNIQUE, DEFAULT, CHECK) refuse loudly — frames carry none.
    */
  final case class Stmt(isView: Boolean, orReplace: Boolean,
                        name: String, body: String,
                        columns: Option[Seq[(String, String, Boolean)]] =
                          None)

  import Dialect.{splitTopLevel, stripLiterals, wordAt,
    matchParenAt => matchParen, skipWsAt => skipWs}

  /** First-words dispatch (masked scan): None unless the statement is
    * `CREATE [OR REPLACE] [TEMP|TEMPORARY] TABLE|VIEW … AS …` — other
    * CREATE forms (USING data sources, indexes, databases) keep Spark's
    * native path. Malformed claimed shapes fail loudly from here.
    */
  def parse(sql: String): Option[Stmt] = {
    val m = stripLiterals(sql)
    var i = skipWs(m, 0)
    if (!wordAt(m, i, "create")) return None
    i = skipWs(m, i + 6)
    var orReplace = false
    if (wordAt(m, i, "or")) {
      val j = skipWs(m, i + 2)
      if (!wordAt(m, j, "replace")) return None
      orReplace = true
      i = skipWs(m, j + 7)
    }
    if (wordAt(m, i, "temporary")) i = skipWs(m, i + 9)
    else if (wordAt(m, i, "temp")) i = skipWs(m, i + 4)
    val isView =
      if (wordAt(m, i, "view")) { i = skipWs(m, i + 4); true }
      else if (wordAt(m, i, "table")) { i = skipWs(m, i + 5); false }
      else return None
    val ns = i
    while (i < m.length &&
      (m.charAt(i).isLetterOrDigit || m.charAt(i) == '_')) i += 1
    val name = sql.substring(ns, i)
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*") &&
      (i >= m.length || (m.charAt(i) != '.' && sql.charAt(i) != '`')),
      s"CREATE ${if (isView) "VIEW" else "TABLE"} needs a plain session " +
        s"view name (got '${sql.substring(ns).trim.take(30)}') — " +
        "qualified names have no session-catalog meaning here")
    i = skipWs(m, i)
    // schema-defined form (u17): `CREATE TABLE name (col TYPE …, …)`
    if (!isView && i < m.length && m.charAt(i) == '(') {
      val close = matchParen(m, i)
      val defs = splitTopLevel(sql.substring(i + 1, close)).map { d =>
        val parts = d.trim.split("\\s+").toSeq
        require(parts.length >= 2,
          s"malformed column definition: '${d.trim}' — expected name TYPE")
        val col = parts.head
        require(col.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"malformed column name: $col")
        // TYPE may carry parenthesized args glued or spaced; NOT NULL
        // is the one supported constraint suffix
        val restWords = parts.tail
        val (nn, typeWords) =
          if (restWords.length >= 2 &&
            restWords(restWords.length - 2).equalsIgnoreCase("not") &&
            restWords.last.equalsIgnoreCase("null"))
            (true, restWords.dropRight(2))
          else (false, restWords)
        val tpe = typeWords.mkString(" ")
        require(tpe.nonEmpty && !tpe.toLowerCase.matches(
          ".*\\b(primary|unique|default|check|references)\\b.*"),
          s"column constraint on '$col' is not supported — frames carry " +
            s"no keys/defaults; only NOT NULL parses (got: '${d.trim}')")
        (col, tpe, nn)
      }
      require(defs.map(_._1.toLowerCase).distinct.size == defs.size,
        "duplicate column in CREATE TABLE")
      val k = skipWs(m, close + 1)
      require(k >= m.length,
        s"unexpected text after the column list: ${sql.substring(k).trim
          .take(40)}")
      return Some(Stmt(isView = false, orReplace, name, "", Some(defs)))
    }
    require(wordAt(m, i, "as"),
      s"CREATE ${if (isView) "VIEW" else "TABLE"} $name must be followed " +
        "by AS <select> (or, for TABLE, a (col TYPE, …) column list)")
    val body = sql.substring(i + 2).trim
    require(body.nonEmpty, s"empty defining query for $name")
    Some(Stmt(isView, orReplace, name, body))
  }

  /** SQL type name → Spark type (the DuckDB spellings a schema-defined
    * CREATE TABLE uses; unknown names refuse loudly).
    */
  private[graft] def sparkType(t: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val norm = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val dec = """(?:decimal|numeric)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
    val vchar = """(?:varchar|char|text|string)(?:\s*\(\s*\d+\s*\))?""".r
    norm match {
      case "int" | "integer" | "int4" | "signed" => IntegerType
      case "bigint" | "int8" | "long" | "hugeint" => LongType
      case "smallint" | "int2" | "short" => ShortType
      case "tinyint" | "int1" => ByteType
      case "double" | "float8" | "double precision" => DoubleType
      case "real" | "float4" | "float" => FloatType
      case "boolean" | "bool" | "logical" => BooleanType
      case "date" => DateType
      case "timestamp" | "datetime" | "timestamp without time zone" =>
        TimestampType
      case "blob" | "bytea" | "binary" | "varbinary" => BinaryType
      case dec(p, s) => DecimalType(p.toInt, s.toInt)
      case "decimal" | "numeric" => DecimalType(18, 3) // DuckDB default
      case vchar() => StringType
      case other => throw new IllegalArgumentException(
        s"unsupported column type in CREATE TABLE: '$other'")
    }
  }

  /** Execute: run the defining query through `runBody` (the caller's
    * full statement pipeline, so dialect forms compose inside the AS
    * body), snapshot it for TABLE, bind the session view, return it.
    */
  def run(spark: SparkSession, st: Stmt,
          runBody: String => DataFrame): DataFrame = {
    if (!st.orReplace)
      require(!spark.catalog.tableExists(st.name),
        s"${if (st.isView) "view" else "table"} '${st.name}' already " +
          "exists — use CREATE OR REPLACE")
    val bound = st.columns match {
      case Some(defs) => // schema-defined (u17): an EMPTY typed frame
        val schema = org.apache.spark.sql.types.StructType(defs.map {
          case (col, tpe, notNull) =>
            org.apache.spark.sql.types.StructField(col, sparkType(tpe),
              nullable = !notNull)
        })
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case None =>
        val defined = runBody(st.body)
        if (st.isView) defined else defined.localCheckpoint(true)
    }
    bound.createOrReplaceTempView(st.name)
    bound
  }

  // ---------------------------------------------------------------- u18

  /** `DROP TABLE|VIEW [IF EXISTS] name` — unbinds the session view.
    * Frames are immutable and the session catalog holds only view
    * bindings, so TABLE and VIEW both drop the binding (a TABLE/VIEW
    * type mismatch cannot be detected here — documented divergence
    * from engines with a typed catalog). Other DROP forms (FUNCTION,
    * SCHEMA, …) keep Spark's native path.
    */
  final case class Drop(ifExists: Boolean, name: String)

  def parseDrop(sql: String): Option[Drop] = {
    val m = stripLiterals(sql)
    var i = skipWs(m, 0)
    if (!wordAt(m, i, "drop")) return None
    i = skipWs(m, i + 4)
    if (wordAt(m, i, "table")) i = skipWs(m, i + 5)
    else if (wordAt(m, i, "view")) i = skipWs(m, i + 4)
    else return None
    var ifExists = false
    if (wordAt(m, i, "if")) {
      val j = skipWs(m, i + 2)
      require(wordAt(m, j, "exists"), "malformed DROP … IF (EXISTS?)")
      ifExists = true
      i = skipWs(m, j + 6)
    }
    val (name, after) = ident(sql, m, i, "DROP")
    require(skipWs(m, after) >= m.length,
      s"unexpected text after DROP $name: " +
        s"${sql.substring(after).trim.take(40)}")
    Some(Drop(ifExists, name))
  }

  /** `ALTER TABLE name <action>` — frame-level schema surgery on the
    * session binding (frames are immutable: each action re-binds the
    * name to a derived frame):
    *
    *   RENAME TO new_name          — re-bind under the new name
    *   RENAME COLUMN a TO b        — withColumnRenamed
    *   ADD COLUMN c TYPE           — NULL-backfilled typed column
    *                                 (NOT NULL refuses: existing rows
    *                                 have no value — DuckDB's own rule
    *                                 without a DEFAULT)
    *   DROP COLUMN c               — project the column away
    *   ALTER COLUMN c TYPE t       — cast projection in place (u18 ext;
    *     [SET DATA] TYPE, optional USING expr; ANSI casts throw on
    *     lossy/malformed conversions — DuckDB's cast errors)
    */
  final case class Alter(name: String, action: AlterAction)
  sealed trait AlterAction
  final case class RenameTable(to: String) extends AlterAction
  final case class RenameColumn(from: String, to: String) extends AlterAction
  final case class AddColumn(col: String, tpe: String) extends AlterAction
  final case class DropColumn(col: String) extends AlterAction
  /** `ALTER [COLUMN] c [SET DATA] TYPE t [USING expr]` (u18 ext, r18):
    * a cast projection in place — ANSI mode makes a lossy or malformed
    * cast THROW at execution, mirroring DuckDB's cast errors; USING
    * supplies the conversion expression (DuckDB/Postgres grammar).
    */
  final case class AlterColumnType(col: String, tpe: String,
                                   using: Option[String]) extends AlterAction

  private def ident(sql: String, m: String, at: Int,
                    what: String): (String, Int) = {
    var i = at
    while (i < m.length &&
      (m.charAt(i).isLetterOrDigit || m.charAt(i) == '_')) i += 1
    val name = sql.substring(at, i)
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*") &&
      (i >= m.length || (m.charAt(i) != '.' && sql.charAt(i) != '`')),
      s"$what needs a plain session view name, got: " +
        s"'${sql.substring(at).trim.take(30)}'")
    (name, i)
  }

  def parseAlter(sql: String): Option[Alter] = {
    val m = stripLiterals(sql)
    var i = skipWs(m, 0)
    if (!wordAt(m, i, "alter")) return None
    i = skipWs(m, i + 5)
    require(wordAt(m, i, "table"),
      "only ALTER TABLE is supported — ALTER VIEW re-binds via CREATE " +
        "OR REPLACE VIEW")
    i = skipWs(m, i + 5)
    val (name, afterName) = ident(sql, m, i, "ALTER TABLE")
    i = skipWs(m, afterName)
    val action: (AlterAction, Int) =
      if (wordAt(m, i, "rename")) {
        val j = skipWs(m, i + 6)
        if (wordAt(m, j, "to")) {
          val (to, a) = ident(sql, m, skipWs(m, j + 2), "RENAME TO")
          (RenameTable(to), a)
        } else {
          require(wordAt(m, j, "column"),
            "malformed ALTER TABLE … RENAME (TO name | COLUMN a TO b)")
          val (from, a1) = ident(sql, m, skipWs(m, j + 6), "RENAME COLUMN")
          val t = skipWs(m, a1)
          require(wordAt(m, t, "to"), "RENAME COLUMN a TO b needs TO")
          val (to, a2) = ident(sql, m, skipWs(m, t + 2), "RENAME COLUMN")
          (RenameColumn(from, to), a2)
        }
      } else if (wordAt(m, i, "add")) {
        var j = skipWs(m, i + 3)
        if (wordAt(m, j, "column")) j = skipWs(m, j + 6)
        val (colName, a1) = ident(sql, m, j, "ADD COLUMN")
        val tpe = sql.substring(a1).trim
        require(tpe.nonEmpty, s"ADD COLUMN $colName needs a type")
        require(!tpe.toLowerCase.matches(
          ".*\\b(not\\s+null|primary|unique|default|check)\\b.*"),
          s"ADD COLUMN $colName: constraints are not supported — " +
            "existing rows have no value for a NOT NULL/DEFAULT column")
        (AddColumn(colName, tpe), sql.length)
      } else if (wordAt(m, i, "drop")) {
        var j = skipWs(m, i + 4)
        if (wordAt(m, j, "column")) j = skipWs(m, j + 6)
        val (colName, a1) = ident(sql, m, j, "DROP COLUMN")
        (DropColumn(colName), a1)
      } else if (wordAt(m, i, "alter")) {
        var j = skipWs(m, i + 5)
        if (wordAt(m, j, "column")) j = skipWs(m, j + 6)
        val (colName, a1) = ident(sql, m, j, "ALTER COLUMN")
        var t = skipWs(m, a1)
        if (wordAt(m, t, "set")) {
          val d = skipWs(m, t + 3)
          require(wordAt(m, d, "data"),
            "ALTER COLUMN … SET must be SET DATA TYPE")
          t = skipWs(m, d + 4)
        }
        require(wordAt(m, t, "type"),
          s"ALTER COLUMN $colName needs [SET DATA] TYPE <type> " +
            "[USING expr]")
        t = skipWs(m, t + 4)
        val usingPos = Dialect.findTopLevelKeywordIn(m, t, "using")
        val tpe = (if (usingPos < 0) sql.substring(t)
                   else sql.substring(t, usingPos)).trim
        require(tpe.nonEmpty, s"ALTER COLUMN $colName TYPE needs a type")
        val usingExpr =
          if (usingPos < 0) None
          else {
            val u = sql.substring(usingPos + 5).trim
            require(u.nonEmpty, "empty USING expression")
            Some(u)
          }
        (AlterColumnType(colName, tpe, usingExpr), sql.length)
      } else throw new IllegalArgumentException(
        "ALTER TABLE supports RENAME TO / RENAME COLUMN / ADD COLUMN / " +
          "DROP COLUMN / ALTER COLUMN … TYPE — got: " +
          s"${sql.substring(i).trim.take(40)}")
    require(skipWs(m, action._2.min(sql.length)) >= m.length,
      s"unexpected text after ALTER TABLE: " +
        s"${sql.substring(action._2.min(sql.length)).trim.take(40)}")
    Some(Alter(name, action._1))
  }

  /** Execute DROP: returns the dropped table's EMPTY shape (the data is
    * gone — the post-statement-table convention), built from its schema
    * without running a job. Unknown name: IF EXISTS returns an empty
    * 0-column frame, otherwise refuses loudly.
    */
  def runDrop(spark: SparkSession, st: Drop): DataFrame = {
    if (!spark.catalog.tableExists(st.name)) {
      require(st.ifExists,
        s"cannot DROP '${st.name}': no such session table/view — " +
          "add IF EXISTS to make this a no-op")
      return spark.emptyDataFrame
    }
    val shape = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), spark.table(st.name).schema)
    spark.catalog.dropTempView(st.name)
    shape
  }

  /** Execute ALTER: re-binds the (immutable) frame derived per the
    * action and returns it.
    */
  def runAlter(spark: SparkSession, st: Alter): DataFrame = {
    require(spark.catalog.tableExists(st.name),
      s"cannot ALTER '${st.name}': no such session table/view")
    val cur = spark.table(st.name)
    def requireCol(c: String): String =
      cur.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE ${st.name}: no column '$c' " +
            s"(has: ${cur.columns.mkString(", ")})"))
    import org.apache.spark.sql.functions.{col, lit}
    st.action match {
      case RenameTable(to) =>
        require(!spark.catalog.tableExists(to),
          s"cannot RENAME TO '$to': name already bound")
        cur.createOrReplaceTempView(to)
        spark.catalog.dropTempView(st.name)
        cur
      case RenameColumn(from, to) =>
        val f = requireCol(from)
        require(!cur.columns.exists(_.equalsIgnoreCase(to)),
          s"RENAME COLUMN: '$to' already exists")
        val next = cur.withColumnRenamed(f, to)
        next.createOrReplaceTempView(st.name)
        next
      case AddColumn(c, tpe) =>
        require(!cur.columns.exists(_.equalsIgnoreCase(c)),
          s"ADD COLUMN: '$c' already exists")
        val next = cur.withColumn(c, lit(null).cast(sparkType(tpe)))
        next.createOrReplaceTempView(st.name)
        next
      case DropColumn(c) =>
        val f = requireCol(c)
        require(cur.columns.length > 1,
          "DROP COLUMN would leave a zero-column table")
        val next = cur.drop(col(f))
        next.createOrReplaceTempView(st.name)
        next
      case AlterColumnType(c, tpe, usingExpr) =>
        val f = requireCol(c)
        val target = sparkType(tpe)
        // cast projection in place (column position preserved); ANSI
        // makes a lossy/malformed cast THROW at execution — DuckDB's
        // cast-error behavior; USING supplies the conversion expression
        val e = usingExpr
          .map(org.apache.spark.sql.functions.expr)
          .getOrElse(col(s"`$f`"))
        val next = cur.withColumn(f, e.cast(target))
        next.createOrReplaceTempView(st.name)
        next
    }
  }
}
