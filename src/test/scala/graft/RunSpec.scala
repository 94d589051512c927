package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import graft.tools.Run
import scala.jdk.CollectionConverters._

/** `graft.tools.Run`'s three modes on two cheap queries at sf0.001,
  * with the query map passed in so a test can plant a throwing
  * builder. */
class RunSpec extends SparkSpec {
  private val names = Seq("knn_cosine", "q1_agg")
  private val boom: Run.Builder = (_, _) => throw new IllegalStateException("planted")

  private def tmp(tag: String): String = tempDir(s"run-$tag").toString

  /** `body`'s result and everything it printed to stdout and stderr. */
  private def captured[T](body: => T): (T, String) = {
    val buf = new ByteArrayOutputStream()
    val r = Console.withOut(buf)(Console.withErr(buf)(body))
    (r, buf.toString("UTF-8"))
  }

  test("dump writes exactly the named results and oracles, and no errors") {
    val out = tmp("dump")
    val (status, _) = captured(Run.run(spark, Seq("dump", sf0001, out, names.mkString(","))))
    assert(status == 0)
    assert(new File(out).list().toSet == names.toSet + "oracle_sql.json" + "errors.json")
    names.foreach(n => assert(new File(s"$out/$n").list().exists(_.endsWith(".parquet"))))
    val oracles = new ObjectMapper().readTree(new File(s"$out/oracle_sql.json"))
    assert(oracles.fieldNames().asScala.toSet == names.toSet)
    assert(Files.readString(Paths.get(out, "errors.json")) == "{}")
  }

  test("plan writes one plan file and prints one summary line per name") {
    val out = tmp("plan")
    val (status, text) = captured(Run.run(spark, Seq("plan", sf0001, names.mkString(","), out)))
    assert(status == 0, text)
    assert(new File(out).list().toSet == names.map(_ + ".txt").toSet)
    names.foreach { n =>
      assert(Files.readString(Paths.get(out, s"$n.txt")).contains("== Physical Plan =="))
      assert(text.linesIterator.count(_.startsWith(s"[plan] $n exchanges=")) == 1, text)
    }
    // q1_agg groups by key: its executed plan holds a shuffle
    assert("\\[plan\\] q1_agg exchanges=([1-9]\\d*) ".r.findFirstIn(text).nonEmpty, text)
  }

  test("time reports three samples and at least one job per rep per query") {
    val (res, text) = captured(Run.time(spark, sf0001, names, SparkEntry.queries))
    assert(res.map(_._1) == names)
    res.foreach { case (n, t) =>
      assert(t.get.samples.size == 3 && t.get.samples.forall(_ > 0), n)
      assert(t.get.jobs >= 3 && t.get.stages.nonEmpty, s"$n: ${t.get}")
      assert(text.contains(s"[time] $n median="), text)
    }
  }

  test("an unknown name fails in every mode, and the message names it") {
    val out = tmp("unknown")
    for (args <- Seq(Seq("time", sf0001, "q1_agg,no_such_q"),
                     Seq("plan", sf0001, "no_such_q", out),
                     Seq("dump", sf0001, out, "q1_agg, no_such_q"))) {
      val e = intercept[IllegalArgumentException](Run.run(spark, args))
      assert(e.getMessage.contains("no_such_q"), args)
    }
    assert(new File(out).list().isEmpty)
  }

  test("a throwing builder is reported by name and class; the rest still run") {
    val queries = SparkEntry.queries + ("q1_agg" -> boom)
    val arg = names.mkString(",")
    val out = tmp("boom")
    for (args <- Seq(Seq("time", sf0001, arg), Seq("plan", sf0001, arg, s"$out/plan"),
                     Seq("dump", sf0001, s"$out/dump", arg))) {
      val (status, text) = captured(Run.run(spark, args, queries))
      assert(status != 0, args)
      val report = text.linesIterator.filter(_.startsWith("[run] q1_agg FAILED")).toSeq
      assert(report.size == 1 && report.head.contains("IllegalStateException"), text)
      assert(!text.contains("knn_cosine FAILED"), text)
    }
    assert(new File(s"$out/plan").list().toSeq == Seq("knn_cosine.txt"))
    assert(new File(s"$out/dump/knn_cosine").isDirectory)
  }
}
