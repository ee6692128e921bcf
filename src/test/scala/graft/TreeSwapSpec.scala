package graft

import java.nio.file.Files
import graft.sources.TreeSwap

/**
 * TreeSwap's crash contract, walked exhaustively: a writer may die after
 * ANY step of the swap state machine, and a reader that runs [[TreeSwap
 * .recover]] first (as every store's read path does) must then observe a
 * COMPLETE, single-generation tree — the old one or the new one, never a
 * mix, never nothing. This is the one claim every persisted root leans
 * on (marts, compacted directories, wave roots, ClusterStore /
 * AnnIndexStore / LexIndexStore), so the walk runs over every declared
 * swap kind.
 */
class TreeSwapSpec extends SparkSpec {

  private val Kinds = Seq(TreeSwap.Mart, TreeSwap.Compact,
    TreeSwap.WaveCompact, TreeSwap.IndexCompact, TreeSwap.IndexRetrain,
    TreeSwap.ClusterCommit)
  private val Cluster = TreeSwap.ClusterCommit

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /** A two-"table" generation: both files must always agree — observing
    * a.txt of one generation beside b.txt of another is the corruption
    * the whole-root swap exists to prevent. */
  private def writeTree(dir: String, gen: Int, partial: Boolean = false): Unit = {
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.txt"), s"gen$gen")
    if (!partial)
      Files.writeString(java.nio.file.Paths.get(s"$dir/b.txt"), s"gen$gen")
  }

  /** Read the live tree the way a consumer would: recover first, then
    * demand a complete single-generation root. Returns the generation. */
  private def readLive(path: String,
                       kind: TreeSwap.Kind = Cluster): Int = {
    TreeSwap.recover(spark, path, kind)
    val a = java.nio.file.Paths.get(s"$path/a.txt")
    val b = java.nio.file.Paths.get(s"$path/b.txt")
    assert(Files.exists(a) && Files.exists(b),
      s"half-swapped root: a=${Files.exists(a)} b=${Files.exists(b)}")
    val (ga, gb) = (Files.readString(a), Files.readString(b))
    assert(ga == gb, s"mixed generations: $ga vs $gb")
    ga.stripPrefix("gen").toInt
  }

  test("recover yields a complete single generation after a crash at EVERY swap step") {
    // the writer's op sequence for swapping gen2 over a live gen1 —
    // replayed as prefixes: crash-after-step-k for every k
    for (kind <- Kinds; crashAfter <- 0 to 7) {
      val root = Files.createTempDirectory(s"graft_swap_$crashAfter").toString
      val path = s"$root/store"
      val (tmp, bak) = (path + kind.tmp, path + kind.bak)
      writeTree(path, gen = 1)
      val ops: Seq[() => Unit] = Seq(
        () => fs.delete(hp(tmp), true),                    // 1 clear tmp
        () => writeTree(tmp, gen = 2, partial = true),     // 2 mid-build
        () => writeTree(tmp, gen = 2),                     // 3 build done
        () => fs.create(hp(s"$tmp/${kind.marker}")).close(), // 4 marked
        () => fs.delete(hp(bak), true),                    // 5 clear bak
        () => { fs.rename(hp(path), hp(bak)); () },        // 6 live→bak
        () => { fs.rename(hp(tmp), hp(path)); () },        // 7 tmp→live
        () => fs.delete(hp(bak), true))                    // 8 drop bak
      ops.take(crashAfter).foreach(_.apply())
      val gen = readLive(path, kind)
      withClue(s"$kind, crash after step $crashAfter: ") {
        // before the marker lands (steps 0–3) the commit never happened:
        // gen1 must survive. From the marked-and-unswapped states the
        // OUTCOME may be either generation, but it must be complete and
        // single — and once tmp→live ran (≥7), gen2 is committed.
        if (crashAfter <= 3) gen shouldBe 1
        else if (crashAfter >= 7) gen shouldBe 2
        else gen should (be(1) or be(2))
        // recover is idempotent: a second reader sees the same world
        readLive(path, kind) shouldBe gen
        // and no stale neighbor survives a completed recovery
        Files.exists(java.nio.file.Paths.get(tmp)) shouldBe false
        Files.exists(java.nio.file.Paths.get(bak)) shouldBe false
      }
    }
  }

  test("a marked-but-unswapped tmp is dropped once the live tree is consumed again") {
    // the stale-marked-tmp rule: if live EXISTS, a marked tmp must never
    // be promoted later (that would roll the artifact BACK after newer
    // commits) — recover drops it
    val root = Files.createTempDirectory("graft_swap_stale").toString
    val path = s"$root/store"
    writeTree(path, gen = 3)
    writeTree(path + ".next", gen = 2)
    fs.create(hp(s"$path.next/${Cluster.marker}")).close()
    readLive(path) shouldBe 3
    Files.exists(java.nio.file.Paths.get(path + ".next")) shouldBe false
  }

  test("an UNMARKED tmp is never promoted even when live is missing (bak restores)") {
    val root = Files.createTempDirectory("graft_swap_unmarked").toString
    val path = s"$root/store"
    writeTree(path + ".prev", gen = 1)
    writeTree(path + ".next", gen = 2, partial = true) // interrupted build
    readLive(path) shouldBe 1
  }

  test("swap survives a crashed PREDECESSOR's debris and repeated swaps compose") {
    val root = Files.createTempDirectory("graft_swap_compose").toString
    val path = s"$root/store"
    writeTree(path, gen = 1)
    // debris from a prior crash: stale marked tmp + stale bak
    writeTree(path + ".next", gen = 0)
    fs.create(hp(s"$path.next/${Cluster.marker}")).close()
    writeTree(path + ".prev", gen = 0)
    for (gen <- 2 to 4) {
      TreeSwap.recover(spark, path, Cluster)
      TreeSwap.swap(spark, path, Cluster) { tmpDir =>
        writeTree(tmpDir, gen)
      }
      readLive(path) shouldBe gen
    }
  }

  test("a delete or rename the file system refuses aborts the swap; the live tree survives") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.refuse.impl", classOf[RefusingFs].getName)
    val root = Files.createTempDirectory("graft_swap_refused").toString
    val (local, path) = (s"$root/store", s"refuse://$root/store")
    writeTree(local, gen = 1)
    // first a refused delete of stale debris (building over it would mix
    // generations), then a refused live→bak rename
    for (debris <- Seq(true, false)) {
      if (debris) writeTree(local + Cluster.tmp, gen = 0, partial = true)
      RefusingFs.refuse = true
      try intercept[java.io.IOException] {
        TreeSwap.swap(spark, path, Cluster)(_ =>
          writeTree(local + Cluster.tmp, gen = 2))
      } finally RefusingFs.refuse = false
      withClue(s"debris=$debris: ") { readLive(local) shouldBe 1 }
    }
  }
}

/** The local file system under a `refuse:` scheme, whose renames and
  * deletes return false — Hadoop's way of reporting a refused step —
  * while [[RefusingFs.refuse]] is set. */
class RefusingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refuse:///")
  override def getScheme: String = "refuse"
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    !RefusingFs.refuse && super.rename(src, dst)
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    !RefusingFs.refuse && super.delete(p, recursive)
}

object RefusingFs { @volatile var refuse = false }
