package graft.api

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session table catalog: resolves each parquet table's schema once per
  * file fingerprint instead of once per read.
  *
  * A bare `spark.read.parquet(path)` infers the schema with a footer-merge
  * Spark job on every call; on small interactive queries that job is a
  * large share of the latency. The catalog keys the resolved schema on
  *   1. the qualified path,
  *   2. the file fingerprint — `(name, length, mtime)` of every entry of the
  *      file or directory, from one stat or listing on every read,
  *   3. the session's set `spark.sql.parquet.*` and
  *      `spark.sql.legacy.parquet.*` confs,
  * and on a hit reads with `spark.read.schema(cached).parquet(path)`.
  *
  * It holds metadata only — schemas, never rows, plans or results: every
  * query still lists and scans its files, and a changed file changes the
  * fingerprint. Directories with subdirectories (partitioned `k=v/`
  * layouts) and paths that cannot be stat'ed (globs) take the plain read,
  * uncached, as do callers that need reader options (`mergeSchema`). An
  * inference that throws is not cached, so it throws again on the next
  * call. One catalog serves every session of the JVM (the conf part of the
  * key keeps sessions with different parquet settings apart) and is safe
  * for concurrent use.
  */
object Catalog {

  private type Fingerprint = Seq[(String, Long, Long)]
  private final case class Entry(fingerprint: Fingerprint, schema: StructType)

  // one entry per (path, confs): a new fingerprint replaces the old one.
  // The cap bounds a session that keeps reading new paths (fresh outputs)
  private val MaxEntries = 4096
  private val entries = new ConcurrentHashMap[(String, Map[String, String]), Entry]()

  /** Read a parquet table, inferring its schema only when the table's
    * files or the session's parquet confs changed since the last read.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((qualified, fp)) =>
        val key = (qualified, parquetConfs(spark))
        val cached = entries.get(key)
        if (cached != null && cached.fingerprint == fp)
          spark.read.schema(cached.schema).parquet(path)
        else {
          val df = spark.read.parquet(path)
          if (entries.size >= MaxEntries) entries.clear()
          entries.put(key, Entry(fp, df.schema))
          df
        }
    }

  private def parquetConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }

  /** The qualified path and its fingerprint; None for a path the catalog
    * does not cache: a directory with subdirectories, or a failed stat (a
    * glob or a missing path — the plain read then globs, or raises the
    * error Spark users expect).
    */
  private def fingerprint(spark: SparkSession, path: String): Option[(String, Fingerprint)] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val leaves = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      if (leaves.exists(_.isDirectory)) None
      else Some((fs.makeQualified(p).toString,
        leaves.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)))
    } catch { case NonFatal(_) => None }
}
