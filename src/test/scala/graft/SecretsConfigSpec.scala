package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SecretsConfig

/** X1 resolution semantics (reference constants.ts:4-31): versioned
  * secrets files override env values; highest trailing-digit version
  * wins; missing dir/file falls through to the env.
  */
class SecretsConfigSpec extends AnyFunSuite {

  private def withSecrets(files: Map[String, String])(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("secrets")
    files.foreach { case (n, v) => Files.writeString(dir.resolve(n), v) }
    f(dir.toString)
  }

  test("a secrets file overrides the env value, trimmed") {
    withSecrets(Map("PGPASSWORD" -> "  hunter2\n")) { dir =>
      val r = SecretsConfig.resolve(Map("PGPASSWORD" -> "fromenv"), dir)
      assert(r("PGPASSWORD") == "hunter2")
    }
  }

  test("highest trailing-digit version wins; non-digit suffix counts as 0") {
    withSecrets(Map(
      "PGUSER" -> "v0", "PGUSER2" -> "v2", "PGUSER9" -> "v9")) { dir =>
      val r = SecretsConfig.resolve(Map("PGUSER" -> "env"), dir)
      assert(r("PGUSER") == "v9")
    }
    // the reference parses only the LAST character: KEY12 is version 2
    withSecrets(Map("KEY12" -> "twelve", "KEY3" -> "three")) { dir =>
      val r = SecretsConfig.resolve(Map("KEY" -> "env"), dir)
      assert(r("KEY") == "three")
    }
  }

  test("missing secrets dir or unmatched key leaves env values as-is") {
    val r = SecretsConfig.resolve(Map("A" -> "x"), "/nonexistent/secrets")
    assert(r("A") == "x")
    withSecrets(Map("OTHER" -> "y")) { dir =>
      assert(SecretsConfig.resolve(Map("A" -> "x"), dir)("A") == "x")
    }
  }
}
