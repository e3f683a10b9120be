package graft.sql

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

import Dialect.{identAt, matchParenAt, skipWsAt, splitTopLevelAll,
  stripLiterals, wordAt}

/** Prepared statements (u24 — DuckDB/Postgres surface): `PREPARE name
  * AS statement` stores session-scoped TEXT with `$1…$N` (1-based) or
  * `?` (positional) placeholders, `EXECUTE name(args)` substitutes the
  * argument expressions and re-enters the normal statement dispatch,
  * `DEALLOCATE [PREPARE] name` drops the entry. Probed DuckDB rules:
  * re-PREPARE under the same name replaces silently; excess EXECUTE
  * arguments error; `$1` may repeat (one argument, many sites).
  * Mixing `$N` and `?` in one statement refuses loudly here (DuckDB
  * accepts the PREPARE and fails at EXECUTE — a loud parse-time
  * refusal strictly precedes that). Substituted arguments are wrapped
  * in parens, so expression arguments keep their precedence.
  */
object PrepareSql {

  private val registries =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, String]]()

  private def reg(spark: SparkSession): TrieMap[String, String] =
    registries.synchronized {
      var m = registries.get(spark)
      if (m == null) {
        m = TrieMap.empty[String, String]; registries.put(spark, m)
      }
      m
    }

  /** `PREPARE name AS statement` → Some((name, statement)). */
  def parsePrepare(sql: String): Option[(String, String)] = {
    val m = stripLiterals(sql)
    var i = skipWsAt(m, 0)
    if (!wordAt(m, i, "prepare")) return None
    i = skipWsAt(m, i + 7)
    val (name, after) = identAt(m, sql, i).getOrElse(return None)
    i = skipWsAt(m, after)
    if (!wordAt(m, i, "as")) return None
    val body = sql.substring(i + 2).trim
    require(body.nonEmpty, s"PREPARE $name has an empty statement")
    Some((name, body))
  }

  /** `EXECUTE name[(args)]` → Some((name, argText)). */
  def parseExecute(sql: String): Option[(String, Seq[String])] = {
    val m = stripLiterals(sql)
    var i = skipWsAt(m, 0)
    if (!wordAt(m, i, "execute")) return None
    i = skipWsAt(m, i + 7)
    val (name, after) = identAt(m, sql, i).getOrElse(return None)
    i = skipWsAt(m, after)
    if (i >= m.length) return Some((name, Nil))
    if (m.charAt(i) != '(') return None
    val close = matchParenAt(m, i)
    if (skipWsAt(m, close + 1) < m.length) return None // trailing text
    val argText = sql.substring(i + 1, close)
    Some((name,
      if (argText.trim.isEmpty) Nil
      else splitTopLevelAll(argText).map(_.trim)))
  }

  /** `DEALLOCATE [PREPARE] name` → Some(name). */
  def parseDeallocate(sql: String): Option[String] = {
    val m = stripLiterals(sql)
    var i = skipWsAt(m, 0)
    if (!wordAt(m, i, "deallocate")) return None
    i = skipWsAt(m, i + 10)
    if (wordAt(m, i, "prepare")) i = skipWsAt(m, i + 7)
    val (name, after) = identAt(m, sql, i).getOrElse(return None)
    if (skipWsAt(m, after) < m.length) return None
    Some(name)
  }

  def prepare(spark: SparkSession, name: String, body: String): Unit =
    reg(spark).put(name.toLowerCase, body) // re-PREPARE replaces (probed)

  def deallocate(spark: SparkSession, name: String): Unit = {
    val removed = reg(spark).remove(name.toLowerCase).isDefined
    require(removed, s"prepared statement $name does not exist")
  }

  /** The stored text with `args` substituted — the EXECUTE lowering. */
  def bind(spark: SparkSession, name: String, args: Seq[String]): String = {
    val body = reg(spark).get(name.toLowerCase).getOrElse(
      throw new IllegalArgumentException(
        s"prepared statement $name does not exist — PREPARE it first"))
    val m = stripLiterals(body)
    val sb = new StringBuilder
    var used = 0 // highest $N seen
    var nextQ = 0 // next positional '?' index
    var sawDollar = false
    var sawQ = false
    var i = 0
    while (i < m.length) {
      val c = m.charAt(i)
      if (c == '$' && i + 1 < m.length && m.charAt(i + 1).isDigit &&
        (i == 0 || !(m.charAt(i - 1).isLetterOrDigit ||
          m.charAt(i - 1) == '_' || m.charAt(i - 1) == '$'))) {
        sawDollar = true
        var e = i + 1
        while (e < m.length && m.charAt(e).isDigit) e += 1
        val n = body.substring(i + 1, e).toInt
        require(n >= 1 && n <= args.size,
          s"EXECUTE $name: statement references $$$n but " +
            s"${args.size} argument(s) were provided")
        used = math.max(used, n)
        sb.append('(').append(args(n - 1)).append(')')
        i = e
      } else if (c == '?') {
        sawQ = true
        require(nextQ < args.size,
          s"EXECUTE $name: statement has more ? placeholders than the " +
            s"${args.size} argument(s) provided")
        sb.append('(').append(args(nextQ)).append(')')
        nextQ += 1
        used = math.max(used, nextQ)
        i += 1
      } else {
        sb.append(body.charAt(i))
        i += 1
      }
    }
    require(!(sawDollar && sawQ),
      s"prepared statement $name mixes $$N and ? placeholders — use " +
        "one style")
    require(used == args.size,
      s"EXECUTE $name: ${args.size} argument(s) provided but the " +
        s"statement uses $used (excess parameters — the DuckDB error)")
    sb.toString
  }

  /** Prepared names for a session (tests / diagnostics). */
  def list(spark: SparkSession): Seq[String] =
    reg(spark).keys.toSeq.sorted
}
