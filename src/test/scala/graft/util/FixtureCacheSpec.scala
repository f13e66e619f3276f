package graft.util

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The tmp-fixture publish: one build per (name, dir, source mtime), a
  * killed build's staging dir cleared and rebuilt, and a touched source
  * published under a new path. Each case uses a fresh source dir, so its
  * fixtures never collide with another run's under java.io.tmpdir. */
class FixtureCacheSpec extends AnyFunSuite {

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }

  /** A source dir holding one "table" file, and the fixture paths the
    * case published (removed afterwards). */
  private def withSource(body: (String, scala.collection.mutable.Buffer[String]) => Unit): Unit = {
    val dir = Files.createTempDirectory("fixture_src")
    Files.write(dir.resolve("t.parquet"), Array[Byte](1, 2, 3))
    val published = scala.collection.mutable.Buffer.empty[String]
    try body(dir.toString, published)
    finally (published.map(Paths.get(_)) :+ dir).foreach(deleteTree)
  }

  test("buildOnce: one build per (name, dir, source mtime)") {
    withSource { (dir, published) =>
      var builds = 0
      def build(name: String): String = {
        val out = FixtureCache.buildOnce(dir, "t", name) { staging =>
          builds += 1
          Files.writeString(staging.resolve("data"), name)
        }
        published += out
        out
      }
      val a = build("fc_a")
      assert(build("fc_a") === a)
      assert(builds === 1)
      assert(Files.readString(Paths.get(a, "data")) === "fc_a")
      val b = build("fc_b")
      assert(b !== a)
      assert(builds === 2)
    }
  }

  test("buildOnce: a killed build's staging dir is cleared and rebuilt") {
    withSource { (dir, published) =>
      intercept[IllegalStateException] {
        FixtureCache.buildOnce(dir, "t", "fc_kill") { staging =>
          Files.writeString(staging.resolve("partial"), "half")
          throw new IllegalStateException("killed mid-build")
        }
      }
      val staging = Paths.get(sys.props("java.io.tmpdir"),
        s"graft_fc_kill_${FixtureCache.stamp(dir, "t", "fc_kill")}.staging")
      assert(Files.exists(staging.resolve("partial")))
      val out = FixtureCache.buildOnce(dir, "t", "fc_kill") { staging =>
        Files.writeString(staging.resolve("data"), "whole")
      }
      published += out
      assert(!Files.exists(staging))
      assert(!Files.exists(Paths.get(out, "partial")))
      assert(Files.readString(Paths.get(out, "data")) === "whole")
    }
  }

  test("buildOnce: touching the source table yields a new path") {
    withSource { (dir, published) =>
      val src = Paths.get(dir, "t.parquet")
      def build(): String = {
        val out = FixtureCache.buildOnce(dir, "t", "fc_touch")(
          staging => Files.writeString(staging.resolve("data"), "x"))
        published += out
        out
      }
      val before = build()
      Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(src).toMillis + 60000L))
      val after = build()
      assert(after !== before)
      assert(Files.exists(Paths.get(after, "data")))
    }
  }

  test("storeStamp: moves when a file is added; an absent dir never matches") {
    withSource { (dir, _) =>
      val s0 = FixtureCache.storeStamp(dir)
      assert(FixtureCache.storeStamp(dir) === s0)
      Files.write(Paths.get(dir, "u.parquet"), Array[Byte](4))
      assert(FixtureCache.storeStamp(dir) !== s0)
      val gone = Paths.get(dir, "no_such_store").toString
      assert(FixtureCache.storeStamp(gone) !== FixtureCache.storeStamp(gone))
    }
  }
}
