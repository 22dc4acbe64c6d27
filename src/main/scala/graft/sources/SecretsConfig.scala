package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** X1 — config/secrets resolution (reference constants.ts:4-31): any
  * environment variable may be overridden by a secrets file whose NAME
  * starts with the variable's key; among matching files the one with
  * the highest version wins, where the version is the file name's LAST
  * character parsed as a digit (non-digit → 0 — the reference's exact
  * quirk, kept so `KEY12` resolves as version 2, not 12). The winning
  * file's trimmed content replaces the env value; a missing dir or file
  * leaves the env value untouched. Resolution runs once at startup —
  * pure function here so it's testable against a temp dir.
  */
object SecretsConfig {

  val DefaultSecretsPath = "/run/secrets/"

  private def trailingVersion(name: String): Int = {
    val c = name.charAt(name.length - 1)
    if (c.isDigit) c - '0' else 0
  }

  /** Resolve one key against the secrets dir listing: highest trailing
    * version among files starting with the key, else the env value.
    */
  private[sources] def resolveKey(key: String, envValue: Option[String],
      dir: Path, listing: Seq[String]): Option[String] = {
    val best = listing.filter(_.startsWith(key))
      .sortBy(n => (-trailingVersion(n), n)).headOption
    best.map(dir.resolve(_)).filter(Files.exists(_)) match {
      case Some(f) => Some(new String(Files.readAllBytes(f), "UTF-8").trim)
      case None => envValue
    }
  }

  /** The reference's `secretsEnv`: every env var, secrets-overridden. */
  def resolve(env: Map[String, String] = sys.env,
      secretsPath: String = DefaultSecretsPath): Map[String, String] = {
    val dir = Paths.get(secretsPath)
    val listing: Seq[String] =
      if (Files.isDirectory(dir))
        Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSeq
      else Seq.empty
    env.map { case (k, v) => k -> resolveKey(k, Some(v), dir, listing).getOrElse(v) }
  }
}
