package graft

import java.nio.file.{Files, Paths}

/** [[ArtifactRegistry.memo]]: one build per key, a build may memo other
  * keys, a failed build stores nothing, and a session-tied value is
  * reused only by its own session. */
class ArtifactMemoSpec extends SparkSpec {

  private def builds(key: String): Int =
    ArtifactRegistry.snapshot().get(key).fold(0)(_._1)

  test("memo builds once, and a build may memo another key") {
    val outer = "test:memo_outer"; val inner = "test:memo_inner"
    def innerValue = ArtifactRegistry.memo(inner)(21)
    ArtifactRegistry.memo(outer)(innerValue * 2) shouldBe 42
    ArtifactRegistry.memo[Int](outer)(fail("a hit must not build")) shouldBe 42
    innerValue shouldBe 21
    builds(outer) shouldBe 1
    builds(inner) shouldBe 1
  }

  test("memo: a build that throws stores nothing and counts no build") {
    val key = "test:memo_throws"
    an[IllegalStateException] should be thrownBy
      ArtifactRegistry.memo[Int](key)(throw new IllegalStateException("boom"))
    builds(key) shouldBe 0
    ArtifactRegistry.memo(key)(7) shouldBe 7
    builds(key) shouldBe 1
  }

  test("memo: a session-tied value is rebuilt for another session only") {
    val key = "test:memo_session"
    val other = spark.newSession()
    ArtifactRegistry.memo(key, Some(spark))("first") shouldBe "first"
    ArtifactRegistry.memo(key, Some(spark))("again") shouldBe "first"
    ArtifactRegistry.memo(key, Some(other))("other") shouldBe "other"
    builds(key) shouldBe 2
    // a value tied to no session is kept across sessions
    ArtifactRegistry.memo("test:memo_free")(1) shouldBe 1
    ArtifactRegistry.memo("test:memo_free")(2) shouldBe 1
  }

  test("q_basket_lift builds its category baskets from its item baskets on any dir name") {
    // The category baskets (`d#ptype`) are built from the item baskets
    // (`d`). A memo that ran that build inside a ConcurrentHashMap update
    // threw `IllegalStateException: Recursive update` whenever both keys
    // hash to one empty bin of the map's 16-bin table. The dir name below
    // makes them share such a bin, one no sf0.001 or sf0.01 key uses.
    val sf001 = "/root/testdata/sf0.01"
    def bin(k: String) = { val h = k.hashCode; (h ^ (h >>> 16)) & 15 }
    val used = Seq(sf0001, sf001).flatMap(d => Seq(d, s"$d#ptype")).map(bin).toSet
    val parent = Files.createTempDirectory("graft_basket_dir_").toString
    val dir = Iterator.from(0).map(i => s"$parent/sfdir$i")
      .find(d => bin(d) == bin(s"$d#ptype") && !used(bin(d))).get
    Files.createDirectory(Paths.get(dir))
    Files.list(Paths.get(sf001)).forEach { table =>
      Files.createSymbolicLink(Paths.get(dir).resolve(table.getFileName), table)
      ()
    }
    val lift = SparkEntry.queries("q_basket_lift")
    val rows = lift(spark, dir).collect()
    rows should not be empty
    rows shouldBe lift(spark, sf001).collect()
  }
}
