package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The library's `main` entry points are a fixed list: a new ad-hoc
  * timing, plan or dump main belongs in `graft.tools.Run`, and adding
  * one anyway means changing this list. */
class EntryPointSpec extends AnyFunSuite {
  test("src/main declares exactly the five entry-point mains") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val mains = files.flatMap { f =>
      val src = Files.readString(f)
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1)).get
      "def main\\(".r.findAllMatchIn(src).map { m =>
        val obj = "object (\\w+)".r.findAllMatchIn(src.substring(0, m.start)).toSeq.last
        s"$pkg.${obj.group(1)}".stripPrefix("graft.")
      }
    }
    assert(files.nonEmpty)
    assert(mains.sorted == Seq("Bench", "Verify", "serving.Serve", "tools.Run", "tools.Smoke"))
  }
}
