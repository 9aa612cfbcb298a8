package graft

import java.nio.file.{Files, Paths}

/** The one build-once cache of derived directories: a REST snapshot, a
  * streaming stage, the near-dup corpus and the scale tiers all ask "is
  * this directory still current for its source?" the same way.
  *
  * The rule: a `_GRAFT_READY` marker in the directory holds the token
  * its data was built for. [[ensure]] builds only when the stored token
  * differs from the caller's; it removes the marker before the build and
  * writes the token strictly after it, so a build that throws leaves no
  * valid marker and the next call builds again. A hit touches the
  * marker, so a marker's mtime says when the directory was last used,
  * never how old its data is. The token is the caller's: a data-content
  * aggregate, a generator version, or a source's
  * [[Tables.newestMtime]]. Exact comparison, not newer-than, is what
  * catches a source replaced by different content with an older mtime
  * (`cp -p`, `rsync -a`, `Files.move`). A legacy or empty marker reads
  * as no token, so it rebuilds once. Directories are local paths. */
private[graft] object Staged {
  val Marker = "_GRAFT_READY"

  /** `<tmpdir>/<area>/<sanitized raw>-<first 8 md5 bytes of raw>`. The
    * md5 of the raw key keeps the key collision-proof: sanitizing alone
    * is lossy (`/a/sf0.1` and `/a/sf0_1` sanitize alike), and a collision
    * would serve another source's directory through the token check. */
  def dirFor(area: String, raw: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    s"${sys.props("java.io.tmpdir")}/$area/${raw.replaceAll("[^A-Za-z0-9._-]", "_")}-$md5"
  }

  /** Makes `dir` current for `token`, running `build` (which writes the
    * data into `dir`) only when the stored token differs; returns `dir`. */
  def ensure(dir: String, token: String)(build: => Unit): String = {
    val marker = Paths.get(dir, Marker)
    val stored = scala.util.Try(Files.readString(marker).trim).getOrElse("")
    if (stored == token)
      Files.setLastModifiedTime(marker,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    else {
      Files.deleteIfExists(marker)
      build
      Files.createDirectories(marker.getParent)
      Files.writeString(marker, token)
    }
    dir
  }
}
