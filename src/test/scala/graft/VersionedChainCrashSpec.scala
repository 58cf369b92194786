package graft.sources

import java.io.IOException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.concurrent.TimeLimits
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.GraftSession

/** A local filesystem that injects faults into CLAIM renames (a
  * `._claim-*` temp renamed onto a chain version) and otherwise gives
  * claim renames HDFS semantics: a rename onto an existing destination
  * is refused instead of silently overwriting. A fault is armed for one
  * target file name. */
object ClaimFaultFs {
  sealed trait Fault
  /** Fail the first rename onto the target; later ones go through. */
  case object FailOnce extends Fault
  /** Delete the staged temp right before the first rename (a vacuum
    * racing the claim). */
  case object Sweep extends Fault
  /** Fail every rename onto the target. */
  case object Refuse extends Fault
  /** Run `f` right before the first rename (another writer landing, or
    * a real vacuum). */
  final case class Before(f: () => Unit) extends Fault
}

class ClaimFaultFs(conf: Configuration)
    extends FilterFileSystem(FileSystem.newInstanceLocal(conf)) {
  import ClaimFaultFs._
  setConf(conf)

  @volatile private var armed: Option[(String, Fault)] = None

  @volatile private var sweepStaged: Option[String] = None

  def arm(target: String, fault: Fault): Unit = armed = Some(target -> fault)
  def disarm(): Unit = armed = None
  /** Delete the next file whose name ends with `suffix` as soon as it is
    * written (a vacuum sweeping a staged temp of any kind). */
  def sweepAfterStaging(suffix: String): Unit = sweepStaged = Some(suffix)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    sweepStaged match {
      case Some(sfx) if f.getName.endsWith(sfx) =>
        sweepStaged = None
        new FSDataOutputStream(out, null) {
          override def close(): Unit = {
            super.close()
            ClaimFaultFs.this.delete(f, false)
          }
        }
      case _ => out
    }
  }

  override def rename(src: Path, dst: Path): Boolean =
    if (!src.getName.startsWith(VersionedChain.TempPrefix)) super.rename(src, dst)
    else {
      armed match {
        case Some((t, fault)) if t == dst.getName =>
          fault match {
            case Refuse => return false
            case FailOnce => disarm(); return false
            case Sweep => disarm(); delete(src, false)
            case Before(f) => disarm(); f()
          }
        case _ =>
      }
      !exists(dst) && super.rename(src, dst)
    }
}

/** Crash injection against the ONE claim every versioned chain commits
  * through (VersionedChain.claim): for the main snapshot chain, a branch
  * chain, an MV definition, a view definition and tags, a claim rename
  * that fails once, loses its staged temp, or is refused every time
  * never leaves a version gap, never drops an earlier entry, fails
  * loudly (and cleanly) when refused, and lets the next writer
  * converge. */
class VersionedChainCrashSpec extends AnyFunSuite with TimeLimits {

  private val conf = new Configuration()
  private val schema = new StructType().add("k", LongType)

  /** One chain under test: `commit(fs, dir, i)` lands item i; `items`
    * reads back what the latest version holds. */
  private case class Chain(name: String, prefix: String,
      commit: (FileSystem, Path, Int) => Unit,
      items: (FileSystem, Path) => Seq[Int])

  // 40 entries per commit: more than the inline ceiling, so every
  // snapshot commit writes a `_SEG.*` segment before its claim
  private def entryLines(i: Int): Array[String] =
    Array.tabulate(40)(j => s"part-$i-$j.parquet,1")
  private def itemsOf(lines: Array[String]): Seq[Int] =
    ManifestFiles.entriesFromLines(lines).map(_._1.split("-")(1).toInt)
      .distinct.sorted.toSeq

  private def snapshotChain(branch: Option[String]) = Chain(
    branch.fold("main snapshot")(b => s"branch '$b' snapshot"),
    s"_MANIFEST.${ManifestFiles.chainPrefix(branch)}v",
    (fs, dir, i) => ManifestFiles.publishSnapshotV(fs, conf, dir,
      (prev, _) => prev ++ entryLines(i), schema, branch),
    (fs, dir) => itemsOf(ManifestFiles.linesOf(fs, dir, None, branch)))

  private def mvDef(i: Int) = ManifestMaterializedView.MvDef(
    s"src$i", None, Seq("k"), Seq(ManifestMaterializedView.AggSpec("count", "*", "n")),
    i, i)
  private def viewDef(i: Int) = ManifestViews.ViewDef(s"SELECT $i AS k",
    "cat", Array.empty, schema, Array("k"), Array.empty, Array.empty, Map.empty)

  // definition chains REPLACE per version: "every earlier entry" means
  // every earlier version stays readable under its own number
  private val chains = Seq(
    snapshotChain(None),
    snapshotChain(Some("b")),
    Chain("MV definition", "_MV.v",
      (fs, dir, i) => ManifestMaterializedView.publishDef(fs, dir, mvDef(i),
        expectFresh = i == 0),
      (fs, dir) => ManifestMaterializedView.versions(fs, dir).sorted.map(v =>
        ManifestMaterializedView.decode(ManifestFiles.readManifest(fs,
          new Path(dir, s"_MV.v$v"))).sourceVersion)),
    Chain("view definition", "_VIEW.v",
      (fs, dir, i) => ManifestViews.publish(fs, dir, viewDef(i),
        expectFresh = i == 0),
      (fs, dir) => ManifestViews.versions(fs, dir).sorted.map(v =>
        ManifestViews.read(fs, dir, Some(v)).sql.stripPrefix("SELECT ")
          .takeWhile(_ != ' ').toInt)),
    Chain("tags", "_TAGS.v",
      (fs, dir, i) => ManifestFiles.updateTags(fs, dir)(_ + (s"t$i" -> i)),
      (fs, dir) => ManifestFiles.tags(fs, dir).values.toSeq.sorted))

  private def freshDir(tag: String): Path = new Path(
    java.nio.file.Files.createTempDirectory(s"graft_claim_$tag").toUri)

  private def leftovers(fs: FileSystem, dir: Path, pfx: String): Set[String] =
    fs.listStatus(dir).map(_.getPath.getName).filter(_.startsWith(pfx)).toSet

  /** Commit item 0, inject `fault` into the claim of version 2 while
    * committing item 1, then commit item 2: the chain must end at
    * versions 1..3 holding items 0..2, with no claim temp left. */
  private def drive(c: Chain, faultName: String,
      fault: ClaimFaultFs.Fault,
      refused: Boolean): Unit = {
    val fs = new ClaimFaultFs(conf)
    val dir = freshDir(c.name.filter(_.isLetter))
    c.commit(fs, dir, 0)
    val segsBefore = leftovers(fs, dir, "_SEG.")
    fs.arm(s"${c.prefix}2", fault)
    if (refused) {
      val e = failAfter(60.seconds) {
        intercept[IOException](c.commit(fs, dir, 1))
      }
      assert(e.getMessage.contains("refused"), e.getMessage)
      assert(leftovers(fs, dir, VersionedChain.TempPrefix).isEmpty,
        s"${c.name}/$faultName: refused claim left a temp")
      assert(leftovers(fs, dir, "_SEG.") == segsBefore,
        s"${c.name}/$faultName: refused claim left a segment")
      assert(VersionedChain.versions(fs, dir, c.prefix) == Seq(1))
      fs.disarm()
      c.commit(fs, dir, 1) // the next writer converges
    } else c.commit(fs, dir, 1)
    c.commit(fs, dir, 2)
    assert(VersionedChain.versions(fs, dir, c.prefix).sorted == Seq(1, 2, 3),
      s"${c.name}/$faultName: version gap")
    assert(c.items(fs, dir) == Seq(0, 1, 2),
      s"${c.name}/$faultName: latest version lost an earlier entry")
    assert(leftovers(fs, dir, VersionedChain.TempPrefix).isEmpty,
      s"${c.name}/$faultName: claim temp left behind")
  }

  for (c <- chains) {
    test(s"${c.name}: a claim rename that fails once fails the commit " +
      "loudly, with no version gap; the next writer lands the version") {
      drive(c, "fail once", ClaimFaultFs.FailOnce, refused = true)
    }
    test(s"${c.name}: a staged temp swept before the rename is restaged " +
      "at the same version") {
      drive(c, "sweep", ClaimFaultFs.Sweep, refused = false)
    }
    test(s"${c.name}: a store that refuses every claim rename fails the " +
      "commit in bounded time and leaves no temp or segment") {
      drive(c, "refuse", ClaimFaultFs.Refuse, refused = true)
    }
  }

  test("a claim that loses a race rebuilds on the winner: both snapshot " +
    "commits' entries survive, in consecutive versions") {
    val fs = new ClaimFaultFs(conf)
    val dir = freshDir("race")
    val c = snapshotChain(None)
    c.commit(fs, dir, 0)
    // another writer lands v2 between this claim's stage and rename
    fs.arm("_MANIFEST.v2", ClaimFaultFs.Before(() => c.commit(fs, dir, 1)))
    c.commit(fs, dir, 2)
    assert(ManifestFiles.versions(fs, dir).sorted == Seq(1, 2, 3))
    assert(c.items(fs, dir) == Seq(0, 1, 2))
    assert(leftovers(fs, dir, "_SEG.").size == 3,
      "the losing attempt's segment must be deleted")
  }

  test("a _SCHEMA.v<N> temp swept before its rename is restaged: the " +
    "claimed version completes for readers") {
    val fs = new ClaimFaultFs(conf)
    val dir = freshDir("schema")
    val c = snapshotChain(None)
    c.commit(fs, dir, 0)
    fs.sweepAfterStaging("-vschema")
    c.commit(fs, dir, 1)
    assert(ManifestFiles.latestComplete(fs, dir) == 2)
    assert(c.items(fs, dir) == Seq(0, 1))
    assert(leftovers(fs, dir, "._publish-").isEmpty)
  }

  test("tags: a writer that dies mid-update leaves the previous tag set " +
    "readable; a legacy _TAGS file reads and is superseded") {
    val fs = new ClaimFaultFs(conf)
    val dir = freshDir("tagdie")
    fs.mkdirs(dir)
    val legacy = fs.create(new Path(dir, "_TAGS"))
    legacy.write("old,1\n".getBytes("UTF-8"))
    legacy.close()
    assert(ManifestFiles.tags(fs, dir) == Map("old" -> 1))
    ManifestFiles.updateTags(fs, dir)(_ + ("golden" -> 1))
    assert(ManifestFiles.tags(fs, dir) == Map("old" -> 1, "golden" -> 1))
    fs.arm("_TAGS.v2", ClaimFaultFs.Refuse)
    intercept[IOException](
      ManifestFiles.updateTags(fs, dir)(_ + ("nightly" -> 2)))
    assert(ManifestFiles.tags(fs, dir) == Map("old" -> 1, "golden" -> 1))
    fs.disarm()
    ManifestFiles.updateTags(fs, dir)(_ - "old")
    assert(ManifestFiles.tags(fs, dir) == Map("golden" -> 1))
  }

  test("tags: concurrent create_tag calls keep both tags") {
    val fs = new ClaimFaultFs(conf)
    val dir = freshDir("tagrace")
    // cross-process shape: the rival lands _TAGS.v1 between this
    // writer's stage and rename, so this claim rebuilds on it
    fs.arm("_TAGS.v1", ClaimFaultFs.Before(() =>
      ManifestFiles.updateTags(fs, dir)(_ + ("a" -> 1))))
    ManifestFiles.updateTags(fs, dir)(_ + ("b" -> 2))
    assert(ManifestFiles.tags(fs, dir) == Map("a" -> 1, "b" -> 2))
    // same-JVM shape: threads racing on one table
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val fut = (0 until 8).map(i => pool.submit(new Runnable {
      override def run(): Unit =
        ManifestFiles.updateTags(fs, dir)(_ + (s"t$i" -> i))
    }))
    fut.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(ManifestFiles.tags(fs, dir).keySet ==
      Set("a", "b") ++ (0 until 8).map(i => s"t$i"))
    assert(VersionedChain.versions(fs, dir, "_TAGS.v").sorted == (1 to 10))
  }

  test("vacuum on an MV table sweeps a staged _MV claim temp; the claim " +
    "restages and lands, and a crashed claimer's temp is reclaimed") {
    val spark = GraftSession.local(2)
    val root = java.nio.file.Files.createTempDirectory("graft_claim_vac").toString
    val cat = "graft_claim_vac_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val fs = new ClaimFaultFs(conf)
    val dir = new Path(new Path(root).toUri.toString, "mv")
    ManifestMaterializedView.publishDef(fs, dir, mvDef(0), expectFresh = true)
    var sawTemp = false
    fs.arm("_MV.v2", ClaimFaultFs.Before { () =>
      sawTemp = leftovers(fs, dir, VersionedChain.TempPrefix).nonEmpty
      spark.sql(s"CALL $cat.system.vacuum('mv')").collect()
    })
    ManifestMaterializedView.publishDef(fs, dir, mvDef(1), expectFresh = false)
    assert(sawTemp, "the claim temp was staged when vacuum ran")
    assert(ManifestMaterializedView.versions(fs, dir).sorted == Seq(1, 2))
    assert(ManifestMaterializedView.readDef(fs, dir).source == "src1")
    val orphan = fs.create(new Path(dir, s"${VersionedChain.TempPrefix}dead-_MV.v3"))
    orphan.close()
    spark.sql(s"CALL $cat.system.vacuum('mv')").collect()
    assert(leftovers(fs, dir, VersionedChain.TempPrefix).isEmpty)
  }
}
