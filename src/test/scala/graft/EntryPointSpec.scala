package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The `main` entry points are a fixed list: a new ad-hoc timing, plan
  * or dump main belongs in `graft.tools.Run`, and adding one anyway
  * means changing this list. */
class EntryPointSpec extends AnyFunSuite {
  /** Every object declaring a `main` under `root`, package-qualified
    * with the leading `graft.` dropped. */
  private def mains(root: String): Seq[String] = {
    val files = Files.walk(Paths.get(root)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    files.flatMap { f =>
      val src = Files.readString(f)
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1)).get
      "def main\\(".r.findAllMatchIn(src).map { m =>
        val obj = "object (\\w+)".r.findAllMatchIn(src.substring(0, m.start)).toSeq.last
        s"$pkg.${obj.group(1)}".stripPrefix("graft.")
      }
    }.sorted
  }

  test("src/main declares exactly the five entry-point mains") {
    assert(mains("src/main/scala") == Seq("Bench", "Verify", "serving.Serve", "tools.Run", "tools.Smoke"))
  }

  test("src/test declares exactly one main, the sf1 replica builder") {
    assert(mains("src/test/scala") == Seq("Sf1Replica"))
  }
}
