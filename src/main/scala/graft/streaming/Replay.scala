package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Finite replays of streaming queries.
  *
  * [[linkDir]] bridges single read-only data FILES to Spark's
  * directory-based file stream source: the source requires a directory (it
  * infers basePath and watches it for new files), so the file is exposed
  * through a per-file symlink directory under java.io.tmpdir. Idempotent;
  * concurrent creators tolerate the already-exists race.
  *
  * [[drain]] runs a stream writer to completion; [[runToCompletion]]
  * drains a stream into a memory sink and hands back what it wrote.
  */
object Replay {

  /** Starts `writer` with an `AvailableNow` trigger, waits until every
    * available input is processed, stops the query (also on failure) and
    * returns it, so callers can read its progress.
    */
  def drain(writer: DataStreamWriter[_]): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    q
  }

  /** [[drain]]s `out` into a uniquely named memory sink and returns the
    * sink's table in `out`'s session.
    */
  def runToCompletion(out: Dataset[_], outputMode: String): DataFrame = {
    val sink = "graft_sink_" + java.util.UUID.randomUUID.toString.replace("-", "")
    drain(out.writeStream.format("memory").queryName(sink).outputMode(outputMode))
    out.sparkSession.table(sink)
  }

  /** A directory containing (a symlink to) exactly the given file,
    * suitable as a file-stream source path.
    */
  def linkDir(file: String): String = {
    import java.nio.file.{Files, LinkOption, Paths}
    val src = Paths.get(file).toAbsolutePath
    // Collision-resistant key: 16 hex chars of SHA-256 over the absolute
    // path, so two distinct sources never share a stream directory.
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(src.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val key = digest.take(8).map(b => f"$b%02x").mkString
    val d = Paths.get(sys.props("java.io.tmpdir"), "graft_stream_" + key)
    Files.createDirectories(d)
    val link = d.resolve(src.getFileName)
    // A pre-existing link must still point at src (it may be stale from a
    // prior run whose source was moved or deleted); recreate otherwise.
    if (Files.exists(link, LinkOption.NOFOLLOW_LINKS)) {
      val stale = !Files.isSymbolicLink(link) ||
        Files.readSymbolicLink(link) != src || !Files.exists(src)
      // deleteIfExists: a concurrent JVM may have already removed the
      // stale link (the same race the createSymbolicLink catch tolerates)
      if (stale) Files.deleteIfExists(link)
    }
    if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
      try Files.createSymbolicLink(link, src)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    d.toString
  }
}
