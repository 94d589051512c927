package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-scan rules. The `main` entry points are a fixed list: a new
  * ad-hoc timing, plan or dump main belongs in `graft.tools.Run`, and
  * adding one anyway means changing this list. And `src/main` shares a
  * frame only through eager cuts, never through the session cache. */
class EntryPointSpec extends AnyFunSuite {
  /** Every Scala source file under `root`. */
  private def sources(root: String): Seq[java.nio.file.Path] = {
    val files = Files.walk(Paths.get(root)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    files
  }

  /** Every object declaring a `main` under `root`, package-qualified
    * with the leading `graft.` dropped. */
  private def mains(root: String): Seq[String] =
    sources(root).flatMap { f =>
      val src = Files.readString(f)
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1)).get
      "def main\\(".r.findAllMatchIn(src).map { m =>
        val obj = "object (\\w+)".r.findAllMatchIn(src.substring(0, m.start)).toSeq.last
        s"$pkg.${obj.group(1)}".stripPrefix("graft.")
      }
    }.sorted

  test("src/main declares exactly the five entry-point mains") {
    assert(mains("src/main/scala") == Seq("Bench", "Verify", "serving.Serve", "tools.Run", "tools.Smoke"))
  }

  test("src/test declares exactly one main, the sf1 replica builder") {
    assert(mains("src/test/scala") == Seq("Sf1Replica"))
  }

  test("src/main never persists, caches or unpersists a frame") {
    // a frame two readers share is cut eagerly (`localCheckpoint`),
    // which Spark's ContextCleaner frees once nothing references it; a
    // `persist` registers its plan in the session's cache, where any
    // later plan of the same shape reads it, whatever changed on disk
    val call = "\\.persist\\(|\\.cache\\(\\)|unpersist\\(".r
    val calls = sources("src/main/scala").flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (l, i) =>
        call.findAllIn(l).map(m => s"$f:${i + 1}: $m")
      }
    }
    assert(calls.isEmpty, s"${calls.size} calls:\n${calls.mkString("\n")}")
  }
}
