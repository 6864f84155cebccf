package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/**
 * Temporary directories for specs. `withTempDir` hands its body a fresh
 * directory under java.io.tmpdir and deletes it in a `finally`; `suiteDir`
 * holds state a spec shares across tests (a lazily built resolve) and is
 * deleted after the spec's last test. After that, the spec checks that it
 * left the `graft-*` / `idbits-*` entries of java.io.tmpdir, and the
 * `resolve` work dirs under its `graft-work/`, as it found them.
 *
 * build.sbt gives the forked test JVM its own java.io.tmpdir, emptied before
 * each run, so the check sees only what the tests made, not what other
 * processes write into a shared /tmp.
 */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally FileUtils.deleteQuietly(dir)
  }

  protected lazy val suiteDir: String = Files.createTempDirectory("graft-spec").toString

  private var before = Set.empty[File]

  /** What the spec left behind: fails it by default. */
  protected def leftBehind(left: Set[File]): Unit =
    if (left.nonEmpty)
      fail(s"$suiteName left behind: ${left.map(_.toString).toSeq.sorted.mkString(", ")}")

  override protected def beforeAll(): Unit = {
    before = TempDirs.entries()
    super.beforeAll()
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally {
      FileUtils.deleteQuietly(new File(suiteDir))
      leftBehind(TempDirs.entries() -- before)
    }
}

object TempDirs {
  /** The `graft-*` and `idbits-*` entries of java.io.tmpdir, and every
    * entry under its `graft-work/` (EntityResolution's default work dirs)
    * in place of that directory itself. `graft-mat` (WebCorpus's
    * materialization cache, kept across runs on purpose) is not counted. */
  def entries(): Set[File] = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def list(dir: File): Set[File] = Option(dir.listFiles()).toSet.flatten
    list(tmp).filter { f =>
      val n = f.getName
      (n.startsWith("graft-") || n.startsWith("idbits-")) && n != "graft-mat" && n != "graft-work"
    } ++ list(new File(tmp, "graft-work"))
  }
}
