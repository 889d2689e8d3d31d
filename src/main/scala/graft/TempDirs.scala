package graft

import java.nio.file.{Files, Path}

/** Temp-dir staging for test-fixture helpers: per-JVM
  * `createTempDirectory` (the r10 stale-generation fix — a fixed path
  * accumulates part-file generations across JVMs) PLUS a JVM shutdown
  * hook that deletes the directory recursively, so long sessions and
  * repeated bench/verify runs don't leak staged fixtures into /tmp
  * (ADVICE r10). Fixture-prep machinery and the multi-JVM checkpoint
  * dir of [[GraftSession]] — never a query hot path.
  */
object TempDirs {

  /** A fresh temp directory removed (recursively, best-effort) at JVM
    * exit. */
  def create(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(d)))
    d
  }

  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.isDirectory(p))
        Files.list(p).forEach(c => deleteRecursively(c))
      Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () } // best-effort at exit

  /** Content fingerprint of one fixture table's parquet (file or
    * part-file directory): sorted (name, mtime, size) triples hashed —
    * cheap FS stats, no data read. Cache keys that include this stamp
    * re-stage automatically when the fixture is REGENERATED within a
    * long-lived JVM (same path, new bytes), instead of serving stale
    * staged copies (ADVICE r10). */
  def fingerprint(tablePath: String): String = {
    val p = java.nio.file.Paths.get(tablePath)
    val files: Seq[Path] =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq
        } finally s.close()
      } else if (Files.exists(p)) Seq(p)
      else Seq.empty
    // A file can vanish between Files.list and the stat (a fixture
    // being regenerated concurrently — the very scenario fingerprinting
    // targets). Skip vanished files rather than failing the caller's
    // staging: the next call re-resolves because the key changes again
    // once the regeneration completes (ADVICE r11).
    val stamp = files
      .flatMap { f =>
        try Some(
          s"${f.getFileName}:${Files.getLastModifiedTime(f).toMillis}:${Files.size(f)}")
        catch { case _: java.io.IOException => None }
      }
      .sorted.mkString("|")
    java.lang.Integer.toHexString(stamp.hashCode)
  }
}
