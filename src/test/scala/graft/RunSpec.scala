package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import graft.tools.Run
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `graft.tools.Run`'s three modes on two cheap queries at sf0.001,
  * with the query map passed in so a test can plant a throwing
  * builder. */
class RunSpec extends SparkSpec {
  private val names = Seq("knn_cosine", "q1_agg")
  private val boom: Run.Builder = (_, _) => throw new IllegalStateException("planted")

  private def tmp(tag: String): String = tempDir(s"run-$tag").toString

  /** The job group a builder is called under: `<name> (warm)` for the
    * warm run, the name for a timed one. */
  private def group(s: org.apache.spark.sql.SparkSession): String =
    s.sparkContext.getLocalProperty("spark.jobGroup.id")

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
      assert(t.samples.size == 3 && t.samples.forall(_.wall > 0), n)
      assert(t.jobs >= 3 && t.stages.nonEmpty, s"$n: $t")
      assert(text.contains(s"[time] $n median="), text)
      assert(s"\\[time\\] $n median=\\S+ min=\\S+ max=\\S+ n=3 construct=\\S+ plan=\\S+ execute=".r
        .findFirstIn(text).nonEmpty, text)
    }
  }

  test("time warms every name once, then runs three round-robin timed passes") {
    val calls = ArrayBuffer[String]()
    def recording(n: String): Run.Builder = (s, dir) => {
      calls += group(s)
      SparkEntry.queries(n)(s, dir)
    }
    val queries = Map("a" -> recording("q1_agg"), "b" -> recording("knn_cosine"))
    captured(Run.time(spark, sf0001, Seq("a", "b"), queries))
    assert(calls == Seq("a (warm)", "b (warm)") ++ Seq.fill(3)(Seq("a", "b")).flatten)
  }

  test("a sample that throws is kept out of the median and fails the run by name") {
    def flaky(): Run.Builder = {
      var timed = 0
      (s, dir) => {
        if (group(s) == "q1_agg") {
          timed += 1
          if (timed == 2) throw new IllegalStateException("second timed run")
        }
        SparkEntry.queries("q1_agg")(s, dir)
      }
    }
    val (res, _) = captured(Run.time(spark, sf0001, names, SparkEntry.queries + ("q1_agg" -> flaky())))
    val t = res.toMap
    assert(t("q1_agg").samples.size == 2 && t("q1_agg").warm.isEmpty)
    assert(t("q1_agg").errors.map(_.getClass) == Seq(classOf[IllegalStateException]))
    assert(t("q1_agg").median() == t("q1_agg").samples.map(_.wall).max)
    assert(t("knn_cosine").samples.size == 3 && t("knn_cosine").errors.isEmpty)

    val queries = SparkEntry.queries + ("q1_agg" -> flaky())
    val (status, text) = captured(Run.run(spark, Seq("time", sf0001, names.mkString(",")), queries))
    assert(status == 1, text)
    val report = text.linesIterator.filter(_.startsWith("[run] q1_agg FAILED")).toSeq
    assert(report.size == 1 && report.head.contains("IllegalStateException"), text)
    assert(!text.contains("knn_cosine FAILED"), text)
    assert(text.contains(" n=2 ") && text.linesIterator.exists(l =>
      l.startsWith("[time] knn_cosine median=") && l.contains(" n=3 ")), text)
  }

  test("each sample's construct, plan and execute readings sum to the sample") {
    val outer = ArrayBuffer[(Double, Run.Sample)]()
    val around: Run.Around = (_, run) => {
      val t0 = System.nanoTime()
      val s = run
      outer += ((System.nanoTime() - t0) / 1e9 -> s)
      s
    }
    val (res, _) = captured(Run.time(spark, sf0001, names, SparkEntry.queries, around))
    assert(outer.size == 6 && res.flatMap(_._2.samples).toSet == outer.map(_._2).toSet)
    outer.foreach { case (wall, s) =>
      assert(s.construct > 0 && s.plan >= 0 && s.execute > 0, s)
      assert(math.abs(s.construct + s.plan + s.execute - s.wall) < 1e-9, s)
      // the readings are taken back to back: only the job-group calls
      // around them fall outside the sum
      assert(s.wall <= wall && s.wall > 0.75 * wall, s"$s in $wall s")
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
