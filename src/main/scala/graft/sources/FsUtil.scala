package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem path probes for the load path.
  *
  * `java.io.File` probes are wrong on a cluster: against `hdfs://`,
  * `abfss://` or `s3a://` URIs `File.exists()` is always false, which
  * would make [[graft.jobs.HfpLoadJob.loadDay]] silently load nothing
  * and the dedup build side silently go empty (duplicates on re-run).
  * Routing every existence/glob probe through the path's own
  * `FileSystem` (resolved from the session's Hadoop configuration) is
  * the move that works identically on local paths, `file://` URIs and
  * object stores — the same pattern the e2e fixture builder already
  * uses for its staging renames (HfpPipeline.scala, buildE2EFixture).
  *
  * Reference analog: the blob-container existence/list probes in
  * hfpStorage.ts:22-34 run against the remote store's API, never the
  * local filesystem — these helpers restore that property.
  */
object FsUtil {

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `FileSystem.exists` on whatever store the path's scheme names. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsFor(spark, p).exists(p)
  }

  /** The paths the glob pattern matches, empty when none does (S1
    * blob-list analog: "which blobs does this group have for this date
    * prefix?"). `globStatus` returns null when the parent does not exist.
    *
    * The pattern is glob SYNTAX: callers building a pattern from a
    * user-supplied base path must [[escapeGlob]] that fixed prefix
    * before appending their intentional `*` — a csvRoot containing
    * `[`/`{` would otherwise be parsed as pattern syntax (throwing, or
    * silently matching the wrong directories) where the old
    * `java.io.File` probe treated it literally. The returned paths are
    * literal: escape each one before handing it to a reader.
    */
  def glob(spark: SparkSession, pattern: String): Seq[String] = {
    val p = new Path(pattern)
    Option(fsFor(spark, p).globStatus(p)).toSeq.flatten.map(_.getPath.toString)
  }

  /** True iff the glob pattern matches at least one path ([[glob]]). */
  def globNonEmpty(spark: SparkSession, pattern: String): Boolean =
    glob(spark, pattern).nonEmpty

  /** Backslash-escape Hadoop glob metacharacters (`\ [ ] { } * ?`) so a
    * literal path segment matches itself inside a glob pattern. Spark's
    * own path resolution (`spark.read...`) uses the same glob grammar,
    * so the escaped form is also the right thing to hand to a reader
    * whose directory may contain such characters.
    */
  def escapeGlob(s: String): String =
    s.flatMap {
      case c @ ('\\' | '[' | ']' | '{' | '}' | '*' | '?') => s"\\$c"
      case c => c.toString
    }
}
