package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Semaphore, TimeUnit}
import graft.{SparkEntry, Verify}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** The measurement harness over the declared queries, one mode per
  * run. `names` is `all` or a comma list; an unknown name fails before
  * any work, listing every unknown one.
  *
  *  - `time <sfDir> <names>`: one warm pass over the names, then 3
  *    interleaved timed passes (see [[time]]). Prints each query's
  *    median, min, max, sample count and median per layer (construct,
  *    plan, execute), every sample, the per-rep job, stage, task and
  *    run/cpu/gc-ms totals, and the slowest stages. `Bench` times its
  *    passes with it.
  *  - `plan <sfDir> <names> <outDir>`: executes each query and writes
  *    its final adaptive plan (formatted) to `outDir/<name>.txt`. Only
  *    an executed plan shows exchange reuse, so the summary line counts
  *    exchanges and reused exchanges on it and flags the operators the
  *    plan audit looks for.
  *  - `dump <sfDir> <outDir> <names>`: the named results, their oracle
  *    SQL and `errors.json`, as `Verify` writes them, so
  *    `tools/check.py <sfDir> <outDir>` re-checks just those queries.
  *
  * A query that throws, in any of its runs, is reported with its name
  * and exception class after the others have run, and the exit status
  * is non-zero.
  * Run: `sbt "runMain graft.tools.Run time <sfDir> q1_agg,q3_join"`. */
object Run extends AdaptiveSparkPlanHelper {
  type Builder = (SparkSession, String) => DataFrame

  private val Reps = 3
  private val Usage =
    "usage: time <sfDir> <names> | plan <sfDir> <names> <outDir> | dump <sfDir> <outDir> <names>"

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core of the machine. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session `Bench`, `Verify`, `Smoke` and `Run` run on. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Executes the query's own physical plan. `count()` would let the
    * optimizer drop projections and aggregate functions, so map-heavy
    * and aggregate queries would time a gutted plan. */
  def execute(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** `all`, or a comma list of declared names. */
  def select(queries: Map[String, Builder], arg: String): Seq[String] = {
    val names =
      if (arg == "all") queries.keys.toSeq.sorted
      else arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    require(names.nonEmpty, s"no query names in '$arg'")
    names
  }

  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
                         runMs: Long, cpuMs: Long, gcMs: Long, inBytes: Long,
                         shuffleRead: Long, shuffleWrite: Long)

  /** One run's layers, in seconds: the builder call (construct),
    * `executedPlan` (plan) and `toRdd.count()` (execute, which holds
    * any adaptive re-planning). They are read back to back, so their
    * sum is the run's wall time. */
  final case class Sample(construct: Double, plan: Double, execute: Double) {
    def wall: Double = construct + plan + execute
  }

  /** One query's timed runs: the samples of the runs that succeeded,
    * the exceptions of those that threw, the warm run's exception, and
    * the jobs and completed stages of all timed runs together. */
  final case class Timing(samples: Seq[Sample], errors: Seq[Throwable],
                          warm: Option[Throwable], jobs: Int, stages: Seq[Stage]) {
    /** The upper median of `layer` over the successful samples. */
    def median(layer: Sample => Double = _.wall): Double =
      samples.map(layer).sorted.apply(samples.size / 2)
  }

  /** Wraps one timed run of the named query. `Bench` brackets each run
    * with its `/proc` samples. */
  type Around = (String, => Sample) => Sample
  private val direct: Around = (_, run) => run

  final case class PlanSummary(exchanges: Int, reused: Int, flags: Seq[String])

  /** Jobs and completed stages per job group. Listener events arrive
    * asynchronously but in order, so once a job run by [[drain]] has
    * ended, every event posted before it has been delivered. */
  private class Recorder extends SparkListener {
    private val DrainGroup = "graft.tools.Run drain"
    private val drained = new Semaphore(0)
    private val groupOfJob = mutable.Map[Int, String]()
    private val groupOfStage = mutable.Map[Int, String]()
    val jobs = mutable.Map[String, Int]().withDefaultValue(0)
    val stages = mutable.Map[String, Vector[Stage]]().withDefaultValue(Vector.empty)

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        groupOfJob(j.jobId) = g
        jobs(g) += 1
        j.stageIds.foreach(groupOfStage(_) = g)
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (synchronized(groupOfJob.get(j.jobId)).contains(DrainGroup)) drained.release()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      val m = si.taskMetrics
      groupOfStage.get(si.stageId).foreach { g =>
        stages(g) :+= Stage(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
          (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(-1L),
          m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten)
      }
    }

    def drain(sc: SparkContext): Unit = {
      sc.setJobGroup(DrainGroup, DrainGroup)
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      require(drained.tryAcquire(60, TimeUnit.SECONDS), "listener events did not drain in 60 s")
    }
  }

  /** One run of `name`: its jobs carry job group `group` and the name
    * as their description. */
  def once(spark: SparkSession, dir: String, name: String, group: String,
           build: Builder, around: Around = direct): Sample = around(name, {
    val sc = spark.sparkContext
    sc.setJobGroup(group, name)
    try {
      val t0 = System.nanoTime()
      val df = build(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      execute(df)
      val t3 = System.nanoTime()
      Sample((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    } finally sc.clearJobGroup()
  })

  /** One warm run of every name, then [[Reps]] round-robin passes over
    * all of them: a burst of host load as long as one query's runs
    * lands in at most one of its samples. `around` wraps each timed
    * run. A run that throws does not stop the others; its exception is
    * kept under its query. */
  def time(spark: SparkSession, dir: String, names: Seq[String],
           queries: Map[String, Builder], around: Around = direct): Seq[(String, Timing)] = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    try {
      // the group keeps the warm runs' jobs out of the timed runs' counts
      val warm = names.map(n =>
        n -> Try(once(spark, dir, n, s"$n (warm)", queries(n))).failed.toOption).toMap
      val runs = Seq.fill(Reps)(names.map(n =>
        n -> Try(once(spark, dir, n, n, queries(n), around)))).flatten
      rec.drain(sc)
      names.map { name =>
        val mine = runs.collect { case (`name`, r) => r }
        val t = rec.synchronized(Timing(mine.collect { case Success(s) => s },
          mine.collect { case Failure(e) => e }, warm(name), rec.jobs(name), rec.stages(name)))
        if (t.samples.nonEmpty) report(name, t)
        name -> t
      }
    } finally sc.removeSparkListener(rec)
  }

  private def report(name: String, t: Timing): Unit = {
    val walls = t.samples.map(_.wall)
    val st = t.stages
    println(f"[time] $name median=${t.median()}%.3f min=${walls.min}%.3f max=${walls.max}%.3f " +
      f"n=${walls.size} construct=${t.median(_.construct)}%.3f plan=${t.median(_.plan)}%.3f " +
      f"execute=${t.median(_.execute)}%.3f all=${walls.map(s => f"$s%.3f").mkString(",")}")
    println(f"[time] $name per-rep jobs=${t.jobs.toDouble / Reps}%.1f " +
      f"stages=${st.size.toDouble / Reps}%.1f tasks=${st.map(_.tasks).sum / Reps} " +
      f"runMs=${st.map(_.runMs).sum / Reps} cpuMs=${st.map(_.cpuMs).sum / Reps} " +
      f"gcMs=${st.map(_.gcMs).sum / Reps}")
    st.sortBy(-_.runMs).take(12).foreach { s =>
      println(f"[stage] id=${s.id}%-5d wall=${s.wallMs}%6dms run=${s.runMs}%6d " +
        f"cpu=${s.cpuMs}%6d gc=${s.gcMs}%5d tasks=${s.tasks}%4d in=${s.inBytes}%10d " +
        f"sr=${s.shuffleRead}%10d sw=${s.shuffleWrite}%10d  ${s.name}")
    }
  }

  def plan(spark: SparkSession, dir: String, names: Seq[String], outDir: String,
           queries: Map[String, Builder]): Seq[(String, Try[PlanSummary])] = {
    val out = Files.createDirectories(Paths.get(outDir))
    // a query that throws does not stop the others
    names.map { name => name -> Try {
      spark.sparkContext.setJobDescription(name)
      val qe = try {
        val df = queries(name)(spark, dir)
        execute(df)
        df.queryExecution
      } finally spark.sparkContext.setJobDescription(null)
      val text = qe.explainString(FormattedMode)
      Files.writeString(out.resolve(s"$name.txt"), text)
      val s = summarize(qe.executedPlan, text)
      println(s"[plan] $name exchanges=${s.exchanges} reusedExchange=${s.reused} " +
        s"flags=[${s.flags.mkString(",")}]")
      s
    }}
  }

  /** Counts and flags over the whole executed plan, query stages and
    * subqueries included; `text` is its formatted explain. */
  private def summarize(plan: SparkPlan, text: String): PlanSummary = {
    val ops = collectWithSubqueries(plan) { case p => p.getClass.getSimpleName }
    val pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(text).nonEmpty
    val flags = Seq(
      "TakeOrdered" -> ops.contains("TakeOrderedAndProjectExec"),
      "BroadcastHash" -> ops.contains("BroadcastHashJoinExec"),
      "SortMerge" -> ops.contains("SortMergeJoinExec"),
      "BcastNL" -> ops.contains("BroadcastNestedLoopJoinExec"),
      "Pushed" -> pushed,
      "Codegen" -> ops.contains("WholeStageCodegenExec")).collect { case (k, true) => k }
    PlanSummary(ops.count(_ == "ShuffleExchangeExec"), ops.count(_ == "ReusedExchangeExec"), flags)
  }

  def dump(spark: SparkSession, dir: String, outDir: String, names: Seq[String],
           queries: Map[String, Builder]): Map[String, String] = {
    val errors = Verify.run(spark, queries.filter(kv => names.contains(kv._1)),
      SparkEntry.oracles(spark, dir, names), dir, outDir)
    if (errors.isEmpty) println(s"[run] dumped ${names.size} queries to $outDir")
    errors
  }

  /** Runs the mode `args` names over `queries`; returns the exit status. */
  def run(spark: SparkSession, args: Seq[String],
          queries: Map[String, Builder] = SparkEntry.queries): Int = {
    def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"
    def failed[T](rs: Seq[(String, Try[T])]): Seq[(String, String)] =
      rs.collect { case (n, Failure(e)) => n -> describe(e) }
    val failures = args match {
      case Seq("time", dir, names) =>
        time(spark, dir, select(queries, names), queries).flatMap { case (n, t) =>
          (t.errors ++ t.warm).headOption.map(e => n -> describe(e)) }
      case Seq("plan", dir, names, out) => failed(plan(spark, dir, select(queries, names), out, queries))
      case Seq("dump", dir, out, names) => dump(spark, dir, out, select(queries, names), queries).toSeq
      case _ => throw new IllegalArgumentException(Usage)
    }
    failures.foreach { case (n, e) => Console.err.println(s"[run] $n FAILED: $e") }
    if (failures.isEmpty) 0 else 1
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    val status = try run(spark, args.toSeq) finally spark.stop()
    if (status != 0) sys.exit(status)
  }
}
