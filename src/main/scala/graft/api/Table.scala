package graft.api

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}

import graft.functions.Registry
import graft.sql.Dialect

/** The engine's user-facing table abstraction — "same abstraction as a table
  * in the relational databases world" (reference: vinum/api/table.py:15-93).
  *
  * Wraps a [[DataFrame]]; `sql` binds the receiver as the queried table
  * (the reference ignores the FROM name and always queries the receiver,
  * vinum/api/table.py:219-220) and runs the query through Spark SQL after
  * the [[Dialect]] pre-pass. Unlike the reference — SELECT-only, single
  * threaded — the full Spark SQL surface (joins, subqueries, windows, set
  * ops) is available and executes distributed.
  */
final class Table private (val df: DataFrame) {

  def spark: SparkSession = df.sparkSession

  /** Run a SQL query against this table. The first FROM identifier
    * names this table's data; the statement runs through the same dialect
    * pipeline as [[Table.sessionSql]] (np.*, `#` xor, select-alias
    * substitution into WHERE, ...) and output columns are renamed to the
    * reference's naming policy (function name / col_N / _1-dedup —
    * [[graft.sql.OutputNames]]).
    *
    * The receiver binds in the statement's own plan, not in the session
    * catalog (reference semantics: the FROM name is notional,
    * vinum/api/table.py:219-220): Spark's analyzer scopes it like a CTE
    * of the statement, so an inner `WITH` of the same name shadows it, a
    * session view of the same name is untouched, and nothing is left
    * behind for the next call. Where the pipeline resolves a name itself
    * (ASOF and POSITIONAL JOIN operands, star modifiers, TABLESAMPLE)
    * every name the statement does not bind is the receiver too.
    * Concurrent calls share no state.
    */
  def sql(query: String): Table = new Table(build(query) { (q, names) =>
    val o = GraftColumnBridge.sqlWith(spark, q, names)
    graft.sql.OutputNames.vinumNames(GraftColumnBridge.statementPlan(o)) match {
      case Some(cols) if cols.length == o.columns.length => o.toDF(cols: _*)
      case _ => o
    }
  })

  /** The frame [[sql]] builds, with `run` executing each lowered Spark
    * statement under the names it binds. [[sql]] names the outputs in
    * `run`: a UNION BY NAME operand is named before the operands combine
    * by name, and a QUALIFY takes its names from its inner statement.
    */
  private def build(query: String)
                   (run: (String, Table.Names) => DataFrame): DataFrame = {
    Registry.registerAll(spark)
    // a bare SUMMARIZE/DESCRIBE target is the receiver, like any FROM name
    Table.profileForm(query)(t =>
      if (Dialect.isBareIdentifier(t)) df else sql(t).df).getOrElse {
      // a derived-table reference reaches `resolve` only from TABLESAMPLE,
      // whose gate needs the subquery's own first column
      def resolve(ref: String, names: Table.Names): DataFrame = {
        require(Dialect.isBareIdentifier(ref),
          "TABLESAMPLE on a derived table is supported at the session " +
            "surface (sessionSql) — or sample at the query level with " +
            "USING SAMPLE")
        df
      }
      // every statement, a derived table (ASOF / POSITIONAL JOIN operand)
      // included, reads the receiver under ITS first FROM name; the names
      // the statement binds itself shadow it
      def one(q: String, names: Table.Names): DataFrame =
        Table.lowerStatement(spark, q,
          Table.bindNames(Seq(Dialect.firstFromTable(q).getOrElse("t") -> df), names),
          resolve, one, run)
      Table.runUnionByName(spark, Dialect.rewrite(query))(one(_, Nil))
    }
  }

  /** `sql_pd` analog (vinum/api/table.py:276-330: run `sql`, hand back
    * the materialized frame for display). The JVM has no pandas; the
    * equivalent "ready to look at" form is the rendered table string
    * `show()` would print — returned, not printed, so callers can log or
    * embed it. Driver-side by nature; `numRows` bounds the render.
    */
  def sqlPd(query: String, numRows: Int = 20, truncate: Int = 20): String =
    GraftColumnBridge.renderedTable(
      sql(query).df, numRows, truncate)

  /** Query plan for a SQL statement against this table
    * (reference: vinum/api/table.py:358-410 `explain`): the plan of the
    * frame [[sql]] returns, so it describes what `sql` runs.
    */
  def explainSql(query: String, extended: Boolean = false): String = {
    val qe = sql(query).df.queryExecution
    if (extended) qe.toString
    else qe.explainString(org.apache.spark.sql.execution.SimpleMode)
  }

  /** Parsed-query-tree dump — the analog of the reference's
    * `explain(print_query_tree=True)` (vinum/api/table.py:358-410), which
    * prints the parser's AST rather than the execution plan: the
    * UNRESOLVED logical plan of the statement the dialect pipeline hands
    * to Spark, before any optimization. Forms Spark has no grammar for
    * (SUMMARIZE, DESCRIBE, sampling, QUALIFY, ...) show the logical plan
    * of the frame built for them. Pair with [[explainSql]] for the
    * optimizer's view.
    */
  def explainTree(query: String): String =
    GraftColumnBridge.statementPlan(
      build(query)(GraftColumnBridge.sqlWith(spark, _, _))).treeString

  /** The fully materialized result as an Arrow IPC stream — the analog
    * of the reference's `to_arrow`/`to_pandas`
    * (vinum/api/table.py:439-457). Readable by any Arrow consumer
    * (pyarrow/pandas/polars/DuckDB). Scalar columns only.
    */
  def toArrowIpc: Array[Byte] = ArrowExport.toArrowIpc(df)

  /** Bounded-lineage iteration — the recursive-CTE substitute for
    * fixed-point algorithms (PageRank, BFS, label propagation). Runs
    * `step` for rounds 1..n, truncating lineage every `checkpointEvery`
    * rounds so plan depth and fault-recovery cost stay O(one round)
    * regardless of n. See [[graft.ops.Iterate]] for the scale rationale
    * and the convergence-predicate variant.
    */
  def iterate(n: Int, checkpointEvery: Int = 1)
             (step: (Table, Int) => Table): Table =
    Table(graft.ops.Iterate.loop(df, n, checkpointEvery)(
      (d, i) => step(Table(d), i).df))

  /** One-pass column profile (null/distinct counts per column) — the
    * `describe()` ergonomic every notebook expects, backed by the same
    * single-aggregation [[graft.ops.Profile.summarize]] the pr-family
    * gates; defaults to every column.
    */
  def describe(cols: String*): Table =
    Table(graft.ops.Profile.summarize(df,
      if (cols.nonEmpty) cols else df.columns.toSeq))

  /** Changelog against a newer snapshot — [[graft.ops.Cdc.diff]] at the
    * Table surface: `base.diff(after, keys, compared)` returns the
    * insert/update/delete rows that turn this table into `after`.
    */
  def diff(after: Table, keyCols: Seq[String],
           compareCols: Seq[String]): Table =
    Table(graft.ops.Cdc.diff(df, after.df, keyCols, compareCols))

  def schema: StructType = df.schema
  def columnNames: Seq[String] = df.schema.fieldNames.toSeq
  def head(n: Int = 5): Array[Row] = df.head(n)
  def count(): Long = df.count()
  def toDF: DataFrame = df
  def show(n: Int = 20, truncate: Boolean = true): Unit = df.show(n, truncate)
}

object Table {

  /** `set_batch_size` parity shim (vinum/__init__.py:52-62). The
    * reference's global batch size throttles its pull-based Arrow
    * executor; Spark's analog is partition/batch sizing owned by the
    * engine (`spark.sql.files.maxPartitionBytes` for scan splits,
    * `spark.sql.execution.arrow.maxRecordsPerBatch` for Arrow batch
    * width, `spark.sql.shuffle.partitions` for shuffle width), so this
    * intentionally does NOT plumb a row count into execution — it sets
    * the Arrow batch conf, the closest semantic match, and returns the
    * previous value. Present so reference callers have a one-line
    * migration target rather than a missing symbol.
    */
  def setBatchSize(spark: SparkSession, rows: Int): Int = {
    require(rows > 0, s"batch size must be positive, got $rows")
    val key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    val prev = spark.conf.get(key, "10000").toInt
    spark.conf.set(key, rows)
    prev
  }

  /** The names a statement binds for itself — the receiver, CTEs,
    * files it reads, the frames a lowering builds — each bound in the
    * statement's own plan ([[GraftColumnBridge.sqlWith]]), never in the
    * session catalog.
    */
  private[graft] type Names = Seq[(String, DataFrame)]

  /** `names` with `more` bound over them: a name in `more` shadows an
    * outer one of the same spelling, case folded as the analyzer folds it.
    */
  private[graft] def bindNames(names: Names, more: Names): Names =
    names.filterNot(n => more.exists(_._1.equalsIgnoreCase(n._1))) ++ more

  /** QUALIFY lowering shared by every statement [[lowerStatement]]
    * runs, the ASOF / POSITIONAL JOIN remainders included: split a
    * top-level QUALIFY, run the inner query through `runInner`, filter
    * on the appended predicate column, then apply the trailing ORDER BY /
    * LIMIT over the filtered rows — so `QUALIFY rn <= k LIMIT n` limits
    * the qualified rows, not the raw ones. Statements without QUALIFY
    * pass through to `runInner` unchanged.
    */
  private def qualifyAware(spark: SparkSession, stmt: String)
                          (runInner: String => DataFrame): DataFrame =
    Dialect.splitQualify(stmt) match {
      case Some((inner, tail)) =>
        val out = runInner(inner)
        runTail(spark, out.filter(out.col("__qualify__")).drop("__qualify__"), tail)
      case None => runInner(stmt)
    }

  def apply(df: DataFrame): Table = new Table(df)

  /** Parquet reader (reference: vinum/io/arrow.py:151-248 `read_parquet`),
    * bound through the session [[Catalog]]. Column selection becomes a
    * projection that Catalyst pushes into the scan; filters/partition-pruning
    * are automatic.
    */
  def fromParquet(spark: SparkSession, path: String, columns: Seq[String] = Nil): Table = {
    val df = Catalog.parquet(spark, path)
    apply(if (columns.nonEmpty) df.select(columns.map(df.col): _*) else df)
  }

  /** CSV reader with header + schema inference, compressed files auto-detected
    * (reference: vinum/io/arrow.py:64-108 `read_csv`).
    */
  def fromCsv(spark: SparkSession, path: String,
              header: Boolean = true, inferSchema: Boolean = true): Table =
    apply(spark.read
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .csv(path))

  /** Line-delimited JSON reader (reference: vinum/io/arrow.py:111-148). */
  def fromJson(spark: SparkSession, path: String): Table =
    apply(spark.read.json(path))

  /** In-memory ingestion from rows + schema
    * (reference: vinum/api/table.py:95-180 `from_pydict`/`from_arrow`).
    */
  def fromRows(spark: SparkSession, schema: StructType, rows: Seq[Row]): Table =
    apply(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList), schema))

  /** Ingest an Arrow IPC stream (reference `from_arrow`,
    * vinum/api/table.py:95-180) — inverse of [[Table.toArrowIpc]].
    */
  def fromArrowIpc(spark: SparkSession, bytes: Array[Byte]): Table =
    apply(ArrowExport.fromArrowIpc(spark, bytes))

  /** The reference's StreamReader is out-of-core batch input with a fully
    * materialized result (vinum/api/stream_reader.py:12-31) — on Spark the
    * ordinary reader already partitions and streams input, so this is an
    * alias kept for API parity.
    */
  def streamCsv(spark: SparkSession, path: String): Table = fromCsv(spark, path)

  /** Session-level SQL over already-registered temp views — the
    * multi-table counterpart of the single-receiver [[Table.sql]]. A
    * query runs through the same single-statement pipeline
    * ([[lowerStatement]]), with each table reference resolved by
    * `spark.table`; scripts, transactions, macros, prepared statements,
    * DML, DDL, MERGE, COPY, EXPORT/IMPORT and PIVOT are statement forms
    * of this surface only. The session catalog holds the user's names
    * only: DDL, IMPORT, and a script's re-binds and transactions write
    * it; a statement's own names (CTEs, files it reads) bind in its plan.
    */
  def sessionSql(spark: SparkSession, query: String): Table =
    sessionSql(spark, query, Nil)

  /** [[sessionSql]] with the names of an enclosing statement in scope. */
  private def sessionSql(spark: SparkSession, query: String,
                         names: Names): Table = {
    Registry.registerAll(spark)
    // multi-statement scripts (u20): top-level semicolons run as a
    // sequential script (DuckDB's execute shape) — each statement
    // re-enters this method; a statement that MUTATES a bare-named
    // session table re-binds the name to its post-image, so later
    // statements see the script's own writes (our DML returns the
    // post-statement table without re-binding — outside scripts the
    // caller chooses). RETURNING only on the FINAL statement: its
    // projected rows are not the post-image the rest must read.
    //
    // Transactions (u22): `BEGIN; …; COMMIT|ROLLBACK;` — the engine's
    // tables are immutable lazy frames bound by name, so a transaction
    // IS a catalog snapshot: BEGIN captures every session temp-view
    // binding (name → analyzed plan, zero execution), ROLLBACK restores
    // the captured bindings and drops views created since, COMMIT
    // discards the snapshot. Statement errors inside an open
    // transaction roll back before rethrowing (statement atomicity —
    // the Postgres abort-on-error shape). No durability dimension:
    // binding is the only state these statements govern (durable
    // publish stays with the WAP writer, which has its own atomicity).
    Dialect.splitStatements(query) match {
      case Some(stmts) =>
        var out: Table = null
        var snapshot: Option[Map[String, DataFrame]] = None
        def rollback(): Unit = {
          val snap = snapshot.get
          val now = spark.catalog.listTables().collect()
            .filter(_.isTemporary).map(_.name)
          now.filterNot(snap.contains)
            .foreach(spark.catalog.dropTempView(_))
          snap.foreach { case (n, df) => df.createOrReplaceTempView(n) }
          snapshot = None
        }
        stmts.zipWithIndex.foreach { case (st, ix) =>
          Dialect.txnKind(st) match {
            case Some("begin") =>
              require(snapshot.isEmpty,
                "BEGIN inside an open transaction — transactions do " +
                  "not nest")
              snapshot = Some(spark.catalog.listTables().collect()
                .filter(_.isTemporary).map(_.name)
                .map(n => n -> spark.table(n)).toMap)
              out = Table(spark.sql("SELECT 'begin' AS statement"))
            case Some("commit") =>
              require(snapshot.nonEmpty, "COMMIT without BEGIN")
              snapshot = None
              out = Table(spark.sql("SELECT 'commit' AS statement"))
            case Some("rollback") =>
              require(snapshot.nonEmpty, "ROLLBACK without BEGIN")
              rollback()
              out = Table(spark.sql("SELECT 'rollback' AS statement"))
            case _ =>
              try out = sessionSql(spark, st, names)
              catch {
                case e: Throwable if snapshot.nonEmpty =>
                  rollback(); throw e
              }
              mutationTarget(st) match {
                case Some((t, isReturning)) if ix < stmts.size - 1 =>
                  require(!isReturning,
                    "RETURNING is supported only on a script's FINAL " +
                      "statement — an earlier statement must leave the " +
                      "post-image for the rest of the script to read")
                  out.df.createOrReplaceTempView(t)
                case _ =>
              }
          }
        }
        require(snapshot.isEmpty,
          "the script ended inside an open transaction — add COMMIT " +
            "or ROLLBACK")
        return out
      case None =>
    }
    // a lone transaction statement has no script to scope it
    Dialect.txnKind(query).foreach { k =>
      throw new IllegalArgumentException(
        s"${k.toUpperCase} is supported inside multi-statement scripts " +
          "(u22) — run `BEGIN; …; COMMIT|ROLLBACK;` as one sessionSql " +
          "call")
    }
    // shared ref-resolution rule of the profile forms and the table-ref
    // statement forms (MERGE / PIVOT / UNPIVOT / COPY / DML): bare
    // identifier → the statement's names, then the session catalog;
    // subquery → re-enter the full pipeline
    def resolveRef(ref: String): DataFrame =
      if (Dialect.isBareIdentifier(ref)) lookup(names, ref).getOrElse(spark.table(ref))
      else sessionSql(spark, ref, names).df
    def sqlExpr(e: String) = GraftColumnBridge.exprWith(spark, e, names)
    profileForm(query)(resolveRef) match {
      case Some(p) => return apply(p)
      case None =>
    }
    // SQL macros (u23): CREATE/DROP MACRO manage the session-scoped
    // registry; every other statement expands macro calls FIRST, so the
    // body text flows through the whole dialect pipeline below (and a
    // macro referencing another macro late-binds at call time, DuckDB's
    // rule)
    graft.sql.MacroSql.parseCreate(query) match {
      case Some(c) => return apply(graft.sql.MacroSql.runCreate(spark, c))
      case None =>
    }
    graft.sql.MacroSql.parseDrop(query) match {
      case Some((n, ifEx)) =>
        return apply(graft.sql.MacroSql.runDrop(spark, n, ifEx))
      case None =>
    }
    // prepared statements (u24): PREPARE stores text (placeholders
    // validate at EXECUTE — DuckDB's shape), EXECUTE substitutes and
    // re-enters this method, DEALLOCATE drops the entry
    graft.sql.PrepareSql.parsePrepare(query) match {
      case Some((n, body)) =>
        graft.sql.PrepareSql.prepare(spark, n, body)
        return apply(spark.sql(
          s"SELECT 'prepare' AS statement, '$n' AS name"))
      case None =>
    }
    graft.sql.PrepareSql.parseExecute(query) match {
      case Some((n, args)) =>
        return sessionSql(spark, graft.sql.PrepareSql.bind(spark, n, args),
          names)
      case None =>
    }
    graft.sql.PrepareSql.parseDeallocate(query) match {
      case Some(n) =>
        graft.sql.PrepareSql.deallocate(spark, n)
        return apply(spark.sql(
          s"SELECT 'deallocate' AS statement, '$n' AS name"))
      case None =>
    }
    val qr = Dialect.rewrite(graft.sql.MacroSql.expand(spark, query))
    // CTE-headed DML (u16): `WITH c AS (…) INSERT/UPDATE/DELETE/MERGE …`
    // (Postgres/DuckDB, probed) — the CTEs bind as the statement's names
    // (textual order, each may read earlier ones) and the DML re-enters
    // this method to hit the normal statement dispatch below. WITH
    // RECURSIVE heads stay with the recursion lowering / native path.
    graft.sql.RecursiveUnion.tokenizeWith(qr) match {
      case Some((false, ctes, restStart)) =>
        val rest = qr.substring(restStart)
        val firstWord = Dialect.stripLiterals(rest).trim
          .takeWhile(c => c.isLetter || c == '_').toLowerCase
        if (Set("insert", "update", "delete", "merge")(firstWord))
          return cteHeadedDml(spark, ctes, rest, names)
      case _ =>
    }
    // MERGE INTO is a whole-statement form (u09): parse AFTER the
    // token-local rewrite so np.*/# sugar works inside arm expressions
    graft.sql.MergeSql.parse(qr) match {
      case Some(st) =>
        return apply(graft.sql.MergeSql.run(spark, st, resolveRef, sqlExpr))
      case None =>
    }
    // INSERT / UPDATE / DELETE (u10) — the simpler DML siblings, same
    // returns-the-post-statement-table convention; a SELECT source
    // re-enters the full pipeline
    graft.sql.DmlSql.parse(qr) match {
      case Some(st) =>
        return apply(graft.sql.DmlSql.run(spark, st, resolveRef,
          s => sessionSql(spark, s, names).df, sqlExpr))
      case None =>
    }
    // CREATE [OR REPLACE] [TEMP] TABLE/VIEW … AS … (u11) — binds a
    // session view (TABLE = materialized snapshot, VIEW = lazy binding)
    // and returns the defined table; other CREATE forms stay native
    graft.sql.DdlSql.parse(qr) match {
      case Some(st) =>
        return apply(graft.sql.DdlSql.run(spark, st,
          s => sessionSql(spark, s, names).df))
      case None =>
    }
    // DROP TABLE|VIEW and ALTER TABLE (u18) — session-binding surgery;
    // other DROP/ALTER forms keep Spark's native path
    graft.sql.DdlSql.parseDrop(qr) match {
      case Some(st) => return apply(graft.sql.DdlSql.runDrop(spark, st))
      case None =>
    }
    graft.sql.DdlSql.parseAlter(qr) match {
      case Some(st) => return apply(graft.sql.DdlSql.runAlter(spark, st))
      case None =>
    }
    // COPY … TO '<path>' (io21) — export + read-back (the returned
    // frame is the written dataset, proving the round-trip) — and
    // COPY … FROM '<path>' (io22) — import appended into the target
    graft.sql.CopySql.parse(qr) match {
      case Some(st) =>
        return apply(graft.sql.CopySql.run(spark, st, resolveRef))
      case None =>
    }
    // EXPORT/IMPORT DATABASE (io25) — whole-catalog transfer over the
    // session temp views; same overwrite gate as COPY TO
    graft.sql.ExportSql.parse(qr) match {
      case Some(st) => return apply(graft.sql.ExportSql.run(spark, st))
      case None =>
    }
    // DuckDB's file-reading FROM forms (io24): read_parquet('p') /
    // read_csv('p', …) / read_json('p') table functions and bare
    // FROM '<path>' literals bind as the statement's names (the analyzed
    // plan inlines the lazy reader, so pruning/pushdown reach the file
    // scan). Runs AFTER the COPY dispatch: COPY's own path literals never
    // reach this pass. DML / CTE / DDL sources compose for free — their
    // SELECT texts re-enter this method through their resolver callbacks.
    graft.sql.FileReadSql.rewrite(qr) match {
      case Some((rewritten, binds)) =>
        return sessionSql(spark, rewritten,
          bindNames(names, binds.map(b => b.name -> b.read(spark))))
      case None =>
    }
    graft.sql.PivotSql.parsePivot(qr) match {
      case Some(p) => return apply(graft.sql.PivotSql.runPivot(spark, p,
        resolveRef, runTail(spark, _, _)))
      case None =>
    }
    graft.sql.PivotSql.parseUnpivot(qr) match {
      case Some(u) => return apply(graft.sql.PivotSql.runUnpivot(spark, u,
        resolveRef, runTail(spark, _, _)))
      case None =>
    }
    apply(runUnionByName(spark, qr)(sessionOne(spark, _, names)))
  }

  /** The single-statement pipeline behind [[Table.sql]], [[sessionSql]]
    * and both explain calls; the caller has applied [[Dialect.rewrite]]
    * and split UNION BY NAME. Passes run in this order:
    *
    *  1. `… USING SAMPLE <spec>` (q64) splits: the inner statement
    *     re-enters whole, the deterministic md5 gate applies to its
    *     result and the trailing ORDER BY/LIMIT runs over the sampled
    *     frame ([[graft.sql.SampleSql]] documents the divergence from
    *     DuckDB's PRNG sampling);
    *  2. UNION-distinct recursion (gr09) lowers onto frontier-minus-seen;
    *     its seed, step and outer statement each re-enter with the CTEs
    *     bound so far added to `names`;
    *  3. table-level TABLESAMPLE lowers onto the same gate as a textual
    *     subquery keyed on the reference's first column;
    *  4. the clause chain, [[Dialect.lowerClauses]];
    *  5. `COLUMNS(...)`, then `* EXCLUDE / REPLACE / RENAME`, over the
    *     columns of the first FROM relation;
    *  6. DISTINCT ON, after nulls-last (its sort items move into a window
    *     spec, where the top-level scan can't see them);
    *  7. ASOF JOIN and POSITIONAL JOIN build their joined frame, and the
    *     rest of the statement reads it under the name they give; any
    *     other statement runs through `run`, QUALIFY lowered around it.
    *
    * `names` are the statement's own names: a FROM reference the
    * pipeline resolves itself looks them up first. What differs by
    * surface comes in as callbacks, each given the names in scope:
    * `resolve` answers any other FROM reference (a name, or a derived
    * table's query text for TABLESAMPLE), `sub` runs a derived-table
    * operand's query, `run` runs a lowered Spark statement.
    */
  private def lowerStatement(spark: SparkSession, qIn: String, names: Names,
                             resolve: (String, Names) => DataFrame,
                             sub: (String, Names) => DataFrame,
                             run: (String, Names) => DataFrame): DataFrame = {
    def again(q: String, ns: Names): DataFrame =
      lowerStatement(spark, q, ns, resolve, sub, run)
    def named(ref: String): DataFrame =
      lookup(names, ref).getOrElse(resolve(ref, names))
    graft.sql.SampleSql.splitUsingSample(qIn) match {
      case Some((inner, spec, tail)) =>
        return runTail(spark,
          graft.sql.SampleSql.applySample(again(inner, names), spec), tail)
      case None =>
    }
    // UNION ALL recursion stays on Spark's native UnionLoop path (parse
    // returns None for it)
    graft.sql.RecursiveUnion.parse(qIn) match {
      case Some(st) => return graft.sql.RecursiveUnion.run(st, names, again)
      case None =>
    }
    // resolving the gate's first column is analysis only — nothing
    // executes for the column list
    val qSampled = graft.sql.SampleSql.rewriteTablesample(qIn,
      ref => named(ref).columns.toSeq)
    val q1 = Dialect.lowerClauses(qSampled)
    // the first FROM relation's schema is resolved only when a masked
    // pre-test finds a dynamic or modified star. COLUMNS expands FIRST:
    // its star-modifier arm owns `* EXCLUDE` INSIDE a COLUMNS(...)
    // argument, which the bare-star passes would otherwise mangle
    val q2 =
      if (!Dialect.hasDynamicColumns(q1) && !Dialect.hasStarModifier(q1)) q1
      else Dialect.firstFromTable(q1)
        .flatMap(t => scala.util.Try(named(t).columns.toSeq).toOption)
        .map { cols =>
          Dialect.expandStarRename(Dialect.expandStarReplace(
            Dialect.expandStarExclude(
              Dialect.expandColumns(q1, cols, Some(spark)), cols), cols), cols)
        }
        .getOrElse(q1)
    val q = Dialect.distinctOn(q2).getOrElse(q2)
    // ASOF and POSITIONAL JOIN (j12) operands: derived tables re-enter
    // the pipeline (so an ordered subquery keeps its order behind the
    // zip's RDD boundary)
    val joined =
      if (graft.sql.AsOfSql.detect(q))
        Some(graft.sql.AsOfSql.join(q, named, sub(_, names)))
      else if (graft.sql.PositionalSql.detect(q))
        Some(graft.sql.PositionalSql.join(q, named, sub(_, names)))
      else None
    joined match {
      case Some((rest, frame)) => qualifyAware(spark, rest)(
        GraftColumnBridge.sqlWith(spark, _, bindNames(names, Seq(frame))))
      case None => qualifyAware(spark, q)(run(_, names))
    }
  }

  /** The frame `names` binds to `ref`, case folded as the analyzer folds
    * it.
    */
  private def lookup(names: Names, ref: String): Option[DataFrame] =
    names.find(_._1.equalsIgnoreCase(ref)).map(_._2)

  /** [[lowerStatement]] at the session surface: names the statement does
    * not bind resolve through the session catalog, derived tables
    * re-enter the pipeline.
    */
  private def sessionOne(spark: SparkSession, q: String,
                         names: Names): DataFrame =
    lowerStatement(spark, q, names,
      (ref, ns) => if (Dialect.isBareIdentifier(ref)) spark.table(ref)
        else sessionOne(spark, ref, ns),
      sessionOne(spark, _, _), GraftColumnBridge.sqlWith(spark, _, _))

  /** SUMMARIZE / DESCRIBE, the whole-statement profile forms, routed
    * before every other pass: `target` turns the profiled target (a name
    * or a query, which then gets the whole pipeline) into its frame.
    */
  private def profileForm(query: String)
                         (target: String => DataFrame): Option[DataFrame] =
    Dialect.summarizeTarget(query)
      .map(t => graft.ops.Profile.summarizeFull(target(t)))
      .orElse(Dialect.describeTarget(query)
        .map(t => graft.ops.Profile.describeDuck(target(t))))

  /** The trailing ORDER BY / LIMIT / OFFSET of a statement form that
    * builds its frame outside Spark SQL (QUALIFY, USING SAMPLE, PIVOT /
    * UNPIVOT, UNION BY NAME), run over that frame with nulls-last applied
    * like any single statement's ORDER BY.
    */
  private def runTail(spark: SparkSession, df: DataFrame,
                      tail: String): DataFrame =
    if (tail.isEmpty) df
    else GraftColumnBridge.sqlWith(spark,
      Dialect.orderByNullsLast(s"SELECT * FROM __frame__ $tail"),
      Seq("__frame__" -> df))

  /** The session name a statement MUTATES (DML / MERGE / COPY FROM
    * with a bare target) plus whether a RETURNING clause makes the
    * returned frame differ from the post-image. None for non-mutating
    * statements and subquery targets. Parse failures are None — the
    * caller's normal dispatch reports malformed statements.
    */
  private def mutationTarget(stmt: String): Option[(String, Boolean)] = {
    def dmlTarget(st: graft.sql.DmlSql.Stmt): (String, Boolean) = st match {
      case graft.sql.DmlSql.Insert(r, _, _, _, _, _) => (r, false)
      case graft.sql.DmlSql.Update(r, _, _, _, _) => (r, false)
      case graft.sql.DmlSql.Delete(r, _, _, _) => (r, false)
      case graft.sql.DmlSql.Truncate(r) => (r, false)
      case graft.sql.DmlSql.Returning(inner, _) => (dmlTarget(inner)._1, true)
    }
    scala.util.Try(graft.sql.DmlSql.parse(stmt)).toOption.flatten
      .map(dmlTarget)
      .orElse(scala.util.Try(graft.sql.MergeSql.parse(stmt)).toOption
        .flatten.map(m => (m.targetRef, false)))
      .orElse(scala.util.Try(graft.sql.CopySql.parse(stmt)).toOption
        .flatten.collect {
          case c if !c.toTarget && !c.isSubquery => (c.ref, false)
        })
      .filter(t => Dialect.isBareIdentifier(t._1))
  }

  /** CTE-headed DML execution (u16): the CTEs bind as the statement's
    * names in textual order ([[graft.sql.RecursiveUnion.bindCtes]], the
    * recursion's helper rule), each body may read earlier CTEs, then the
    * DML re-enters [[sessionSql]] with them in scope so it hits the
    * normal statement dispatch. Binding is LAZY (a CTE is typically read
    * once). The DML target must be a real table: Postgres scopes the
    * target OUTSIDE the WITH, so a CTE sharing its name refuses loudly
    * rather than silently receiving the rows.
    */
  private def cteHeadedDml(spark: SparkSession,
                           ctes: Seq[graft.sql.RecursiveUnion.RawCte],
                           rest: String, names: Names): Table = {
    mutationTarget(rest).foreach { case (t, _) =>
      require(!ctes.exists(_.name.equalsIgnoreCase(t)),
        s"the CTE '$t' shares the DML target's name — the target is a " +
          "real table outside the WITH scope (Postgres rule); rename " +
          "the CTE")
    }
    sessionSql(spark, rest, graft.sql.RecursiveUnion.bindCtes(
      ctes.map(c => graft.sql.RecursiveUnion.Helper(c.name, c.cols, c.body)),
      names, sessionOne(spark, _, _))())
  }

  /** `stmt` through `runOne` (the caller's single-statement pipeline),
    * or — for a top-level UNION [ALL] BY NAME ([[Dialect.splitUnionByName]],
    * split on the token-local rewrite only) — each operand through it:
    * the clause-scoped passes (alias-into-WHERE, nulls-last) treat each
    * OPERAND as its own statement, since run on the whole text they
    * would leak the first operand's alias map across the operator. The
    * frames combine with `unionByName(allowMissingColumns = true)` —
    * DuckDB BY NAME column semantics exactly — a bare (non-ALL) BY NAME
    * dedups the accumulated result (left-associative set-op semantics),
    * and the trailing ORDER BY / LIMIT / OFFSET clause runs over the
    * combined frame ([[runTail]]).
    */
  private def runUnionByName(spark: SparkSession, stmt: String)
                            (runOne: String => DataFrame): DataFrame =
    Dialect.splitUnionByName(stmt) match {
      case None => runOne(stmt)
      case Some((operands, allFlags, tail)) =>
        var acc = runOne(operands.head)
        operands.tail.zip(allFlags).foreach { case (o, all) =>
          acc = acc.unionByName(runOne(o), allowMissingColumns = true)
          if (!all) acc = acc.distinct()
        }
        runTail(spark, acc, tail)
    }
}
