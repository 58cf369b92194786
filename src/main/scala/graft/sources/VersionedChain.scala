package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The ONE commit primitive of every versioned chain the engine keeps:
  * snapshots (`_MANIFEST.v<N>`, `_MANIFEST.br-<b>.v<N>`), materialized
  * view definitions (`_MV.v<N>`), governed view definitions
  * (`_VIEW.v<N>`) and tags (`_TAGS.v<N>`). A chain is the set of files
  * `<prefix><N>` in one directory; version N is CLAIMED by staging its
  * bytes under a `._claim-` temp name and renaming the temp onto
  * `<prefix><N>` without overwrite — the only atomic step
  * HDFS-semantics storage offers (putIfAbsent).
  *
  * Advance rule after a failed rename (a version gap cannot occur, and a
  * refusing store cannot spin):
  *   - target exists: the claim lost a race — drop this attempt's files
  *     and rebuild at the next version, against the winner;
  *   - target absent, staged temp gone (vacuum swept it): restage the
  *     same bytes at the same version;
  *   - target absent, staged temp still there: the storage refused the
  *     rename — delete the temp and this attempt's files, and throw.
  *
  * POSIX rename overwrites silently, so on a LOCAL filesystem the
  * exists-check + rename pair is not atomic across threads. Same-JVM
  * claimers of one chain therefore serialize on a lock keyed by
  * (directory, prefix) — Delta's LocalLogStore makes the same tradeoff.
  * On HDFS-semantics storage rename refuses an existing destination
  * server-side, so cross-process claimers are safe where it matters;
  * cross-process writers on one raw local disk remain a documented
  * out-of-scope race.
  *
  * The claim goes through `FileSystem.rename`, not FileContext: it
  * refuses an existing destination natively AND ChecksumFileSystem moves
  * the data + `.crc` sidecar pair coherently (FileContext's pair-unaware
  * rename let a losing claimer clobber the winner's `.crc`). */
object VersionedChain {

  /** Every staged claim temp starts with this; vacuum sweeps the
    * leftovers of crashed claimers by it. */
  val TempPrefix = "._claim-"

  /** Versions present on the chain `<prefix><N>` in `dir` (unordered). */
  def versions(fs: FileSystem, dir: Path, prefix: String): Seq[Int] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toIntOption)

  def latest(fs: FileSystem, dir: Path, prefix: String): Int =
    (0 +: versions(fs, dir, prefix)).max

  /** Claim the next version of the chain `<prefix><N>` in `dir`. `first`
    * (evaluated under the lock) is the first version tried. `build`
    * receives the version THIS attempt claims and returns the bytes to
    * land plus any files it wrote that become garbage if the claim is
    * lost or refused; it re-runs only when the claim advances past a
    * landed winner. `landed` runs under the lock once the claim lands
    * (post-claim writes that must stay ordered with the claim). Returns
    * the landed version. */
  def claim(fs: FileSystem, dir: Path, prefix: String, first: => Int,
      landed: Int => Unit = _ => ())(
      build: Int => (Array[Byte], Seq[Path])): Int = {
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val token = java.util.UUID.randomUUID().toString.take(8)
    def drop(files: Seq[Path]): Unit = files.foreach(p =>
      try fs.delete(p, false) catch { case _: Exception => })
    val lock = (dir.toUri.toString + s"#graft-claim-$prefix").intern()
    lock.synchronized {
      var version = first
      var attempt = build(version)
      var done = false
      while (!done) {
        val target = new Path(dir, s"$prefix$version")
        val tmp = new Path(dir, s"$TempPrefix$token-$prefix$version")
        var cause: java.io.IOException = null
        val ok = !fs.exists(target) && {
          val out = fs.create(tmp, true)
          try out.write(attempt._1) finally out.close()
          try fs.rename(tmp, target)
          catch { case e: java.io.IOException => cause = e; false }
        }
        if (ok) done = true
        else if (fs.exists(target)) {
          fs.delete(tmp, false)
          drop(attempt._2)
          version += 1
          attempt = build(version)
        } else if (fs.exists(tmp)) {
          fs.delete(tmp, false)
          drop(attempt._2)
          throw new java.io.IOException(
            s"storage refused the claim rename $tmp -> $target", cause)
        } // else the temp was swept before the rename: restage as is
      }
      landed(version)
      version
    }
  }
}
