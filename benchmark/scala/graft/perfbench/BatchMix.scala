package graft.perfbench

import graft.SparkEntry
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import scala.collection.mutable

/** The batch workloads: `sql_mix` (relational and reference queries, where
  * the fixed cost per query dominates) and `curate_batch` (composed
  * curation pipelines and standing-index probes, where executor work and
  * shuffles dominate). Each query is timed in three calls — construction,
  * planning, the collecting action — and its collected rows are handed to
  * the output check. */
object BatchMix {
  /** The sql_mix family: the paper's pipeline plus the relational modules. */
  def sqlMixNames: Seq[String] =
    Seq(Reference.queries, Relational.queries, RelationalExt.queries,
      RelationalMore.queries, TpchFull.queries, TimeWindows.queries,
      Modern.queries).flatMap(_.keys).distinct.sorted

  /** Run in this fixed order: the seed makes the corpus, and a fixed
    * order keeps each query's share of the cold-JVM cost the same. */
  val curateBatchNames: Seq[String] = Seq(
    "pipeline_curate", "neardup_minhash_md5", "semantic_dedup_ivf",
    "dedup_incremental_substring_indexed")

  /** Standing-index builds the curate_batch mix reads: session set-up. */
  val setupBuilds: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "gram" -> SubstringDedup.ensureGramIndex _)

  /** The other standing-index builds of `graft.Bench`, timed in traced
    * runs only: no query of the mix reads them. */
  val otherBuilds: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "dedup" -> StandingIndex.ensureBuilt _,
    "audit" -> StandingIndex.ensureAuditBuilt _,
    "ann" -> Similarity.ensureAnnIndex _,
    "curation" -> StandingIndex.ensureCurationBuilt _,
    "semdedup" -> Similarity.ensureSemDedupIndex _)

  private def timeBuilds(spark: SparkSession, dir: String,
                         bs: Seq[(String, (SparkSession, String) => Any)]): Map[String, Double] =
    bs.map { case (k, f) =>
      val t0 = System.nanoTime(); f(spark, dir)
      k -> (System.nanoTime() - t0) / 1e9
    }.toMap

  /** Shuffle exchanges the final plan executes (a cached subtree counts
    * once) and the number of plan nodes walked — PlanSpec's walker, which
    * also unwraps the query stages of an executed adaptive plan. */
  def planShape(root: SparkPlan): (Int, Int) = {
    val seen = mutable.Set.empty[SparkPlan]
    var nodes = 0
    def walk(p: SparkPlan): Int = {
      nodes += 1
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: InMemoryTableScanExec =>
          if (seen.add(s.relation.cachedPlan)) walk(s.relation.cachedPlan) else 0
        case e: ShuffleExchangeLike => 1 + e.children.map(walk).sum
        case other => other.children.map(walk).sum
      }
    }
    val ex = walk(root)
    (ex, nodes)
  }

  def run(o: Opts): mutable.LinkedHashMap[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    val names0 = if (o.workload == "sql_mix")
      sqlMixNames.zipWithIndex.collect { case (n, i) if i % o.stride == 0 => n }
    else curateBatchNames
    val missing = names0.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: $missing")

    val spark = Session.start(o, o.master)
    Session.warmUp(spark, o.dir)
    val contextS = Main.sinceJvmStart()
    val curate = o.workload == "curate_batch"
    val buildS = if (curate) timeBuilds(spark, o.dir, setupBuilds) else Map.empty[String, Double]
    out("setup") = Map("context_s" -> contextS, "build_s" -> buildS,
      "setup_s" -> (contextS + buildS.values.sum))
    out("mix") = names0

    val runner = new Runner(spark, o)
    val rng = new scala.util.Random(o.seed)
    def order(): Seq[String] = if (curate) names0 else rng.shuffle(names0)
    // priming pass (traced runs): every query once, untimed, so that the
    // untraced and the traced pass both run warm and their difference is
    // the tracing overhead
    val primeT0 = System.nanoTime()
    if (o.trace) order().foreach(n => runner.observe(n, pass = 0, check = false))
    out("prime_s") = (System.nanoTime() - primeT0) / 1e9

    // one measured pass, the same fixed work whatever the engine's speed.
    // Its time is the sum of its queries' wall times (hygiene and check
    // staging between queries are not billed, as in graft.Bench).
    val obs = order().map(n => runner.observe(n, pass = 1, check = true))
    out("pass_s") = obs.map(_("wall_s").asInstanceOf[Double]).sum
    out("obs") = obs

    if (o.trace) {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      val traced = order().map(n => runner.observeTraced(n, pass = 2, tracer))
      out("traced_pass_s") = traced.map(_("wall_s").asInstanceOf[Double]).sum
      spark.sparkContext.removeSparkListener(tracer)
      out("traced") = traced
      out("spans_file") = runner.writeSpans()
      if (curate) out("other_build_s") = timeBuilds(spark, o.dir, otherBuilds)
    }
    runner.writeOracleSql()
    spark.stop()
    out
  }

  /** Times and checks single queries; keeps the spans of traced ones. */
  final class Runner(spark: SparkSession, o: Opts) {
    private val sc = spark.sparkContext
    private var sinceGc = 0
    private val lastDigest = mutable.Map.empty[String, (String, Int)]
    private val checkedPasses = mutable.Map.empty[Int, mutable.Set[String]]
    private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

    private def epochMs(nanos: Long): Double = epochOffsetMs + nanos / 1e6

    /** `graft.Bench`'s hygiene between queries: nothing cached survives. */
    private def hygiene(): Unit = {
      spark.catalog.clearCache()
      Ranks.releaseAll()
      sinceGc += 1
      if (sinceGc % 4 == 0) System.gc()
    }

    private final case class Timed(df: DataFrame, rows: Array[Row],
                                   t0: Long, t1: Long, t2: Long, t3: Long)

    /** construct → plan → collect, each under its own job group. */
    private def timed(name: String): Either[(Throwable, Double), Timed] = {
      val t0 = System.nanoTime()
      try {
        sc.setJobGroup(s"$name::construct", name)
        val df = SparkEntry.queries(name)(spark, o.dir)
        val t1 = System.nanoTime()
        sc.setJobGroup(s"$name::plan", name)
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        sc.setJobGroup(s"$name::action", name)
        val rows = df.collect()
        Right(Timed(df, rows, t0, t1, t2, System.nanoTime()))
      } catch { case e: Throwable => Left((e, (System.nanoTime() - t0) / 1e9)) }
      finally sc.clearJobGroup()
    }

    private def gateError(name: String, df: DataFrame, rows: Int): Option[String] =
      SparkEntry.noOracleExpectations.get(name).flatMap { case (minRows, ddl) =>
        val got = df.schema.fields.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ")
        if (got != ddl) Some(s"schema '$got' != pinned '$ddl'")
        else if (rows < minRows) Some(s"rows $rows < pinned floor $minRows")
        else None
      }

    /** Hand the collected rows to the output check: written once per
      * distinct result; a repeat of an already checked result refers to
      * the pass that holds it. */
    private def stageCheck(name: String, pass: Int, df: DataFrame, rows: Array[Row]): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach(r => md.update((r.toString + "\u0001").getBytes("UTF-8")))
      val digest = md.digest().map("%02x".format(_)).mkString
      lastDigest.get(name) match {
        case Some((d, p)) if d == digest => p
        case _ =>
          import scala.jdk.CollectionConverters._
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"${o.out}/check/p$pass/$name")
          lastDigest(name) = (digest, pass)
          checkedPasses.getOrElseUpdate(pass, mutable.Set.empty) += name
          pass
      }
    }

    /** The no-oracle gate, else the pass whose staged rows the oracle
      * check reads. */
    private def check(name: String, pass: Int, t: Timed): (String, Any) =
      gateError(name, t.df, t.rows.length) match {
        case Some(err) => "error" -> s"no-oracle gate: $err"
        case None => "check_pass" -> stageCheck(name, pass, t.df, t.rows)
      }

    private def failed(name: String, e: Throwable, wall: Double): Map[String, Any] = {
      System.err.println(s"[perfbench] $name failed: $e")
      Map("q" -> name, "wall_s" -> wall, "error" -> e.toString)
    }

    def observe(name: String, pass: Int, check: Boolean): Map[String, Any] = {
      val w = new Proc.Window
      val r = timed(name)
      val contention = w.finish()
      hygiene()
      r match {
        case Left((e, wall)) => failed(name, e, wall)
        case Right(t) =>
          val base = Map[String, Any]("q" -> name,
            "wall_s" -> (t.t3 - t.t0) / 1e9, "construct_s" -> (t.t1 - t.t0) / 1e9,
            "plan_s" -> (t.t2 - t.t1) / 1e9, "action_s" -> (t.t3 - t.t2) / 1e9,
            "rows" -> t.rows.length,
            "other_cpu_frac" -> contention("other_cpu_frac"))
          if (check) base + this.check(name, pass, t) else base
      }
    }

    def observeTraced(name: String, pass: Int, tracer: Tracer): Map[String, Any] = {
      tracer.clear()
      val r = timed(name)
      org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
      val out = r match {
        case Left((e, wall)) => failed(name, e, wall)
        case Right(t) => layers(name, t, tracer) + check(name, pass, t)
      }
      hygiene()
      out
    }

    private def span(name: String, start: Double, end: Double, parent: Int,
                     query: String): Int = {
      val id = spans.length
      spans += Map("id" -> id, "name" -> name, "start_ms" -> start,
        "end_ms" -> end, "parent" -> parent, "query" -> query)
      id
    }

    private def layers(name: String, t: Timed, tracer: Tracer): Map[String, Any] = {
      val (q0, q1, q2, q3) = (epochMs(t.t0), epochMs(t.t1), epochMs(t.t2), epochMs(t.t3))
      val qs = span("query", q0, q3, -1, name)
      val phaseSpan = Map(
        "construct" -> span("operators.construct", q0, q1, qs, name),
        "plan" -> span("catalyst.plan", q1, q2, qs, name),
        "action" -> span("exec.action", q2, q3, qs, name))
      val phases = t.df.queryExecution.tracker.phases
      def phaseS(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      phases.foreach { case (p, s) =>
        val parent = if (s.startTimeMs < q1) phaseSpan("construct") else phaseSpan("plan")
        span(s"catalyst.$p", s.startTimeMs.toDouble, s.endTimeMs.toDouble, parent, name)
      }
      val jobs = tracer.jobsWhere(_.startsWith(s"$name::"))
      jobs.foreach { case (j, stages) =>
        val phase = j.group.stripPrefix(s"$name::")
        val js = span("exec.job", j.start.toDouble, j.end.toDouble,
          phaseSpan.getOrElse(phase, qs), name)
        stages.foreach(s => span("exec.stage", s.submit.toDouble, s.end.toDouble, js, name))
      }
      val (eager, rest) = jobs.partition(_._1.group == s"$name::construct")
      val execStages = rest.flatMap(_._2)
      val actionLo = q2.toLong; val actionHi = math.ceil(q3).toLong
      val busyMs = Tracer.unionLength(execStages.map(s => (s.submit, s.end)), actionLo, actionHi)
      val lastJobEnd = rest.map(_._1.end.toDouble).foldLeft(q2)(math.max)
      val (exchanges, nodes) = planShape(t.df.queryExecution.executedPlan)
      Map[String, Any](
        "q" -> name, "wall_s" -> (t.t3 - t.t0) / 1e9,
        "operators.construct_s" -> (t.t1 - t.t0) / 1e9,
        "operators.eager_jobs" -> eager.length,
        "catalyst.plan_s" -> (t.t2 - t.t1) / 1e9,
        "catalyst.analysis_s" -> phaseS("analysis"),
        "catalyst.optimization_s" -> phaseS("optimization"),
        "catalyst.planning_s" -> phaseS("planning"),
        "catalyst.exchanges" -> exchanges,
        "catalyst.plan_nodes" -> nodes,
        "exec.action_s" -> (t.t3 - t.t2) / 1e9,
        "exec.jobs" -> rest.length,
        "exec.stages" -> execStages.length,
        "exec.tasks" -> execStages.map(_.tasks).sum,
        "exec.driver_gap_s" -> math.max(0.0, (t.t3 - t.t2) / 1e9 - busyMs / 1e3),
        "exec.executor_run_s" -> execStages.map(_.runMs).sum / 1e3,
        "exec.executor_cpu_s" -> execStages.map(_.cpuNs).sum / 1e9,
        "exec.shuffle_write_bytes" -> execStages.map(_.shuffleWrite).sum,
        "exec.shuffle_read_bytes" -> execStages.map(_.shuffleRead).sum,
        "exec.spill_bytes" -> execStages.map(_.spill).sum,
        "exec.input_bytes" -> execStages.map(_.input).sum,
        "exec.gc_s" -> execStages.map(_.gcMs).sum / 1e3,
        "exec.task_failures" -> tracer.taskFailures(jobs.flatMap(_._2).map(_.id)),
        "result.materialize_s" -> math.max(0.0, q3 - lastJobEnd) / 1e3,
        "result.rows" -> t.rows.length)
    }

    def writeSpans(): String = {
      val path = s"${o.out}/spans.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Main.toJson(spans.toSeq))
      path
    }

    /** `oracle_sql.json` beside each pass's checked results, the layout
      * `scripts/check_oracle.py` reads. */
    def writeOracleSql(): Unit = checkedPasses.foreach { case (pass, names) =>
      val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${o.out}/check/p$pass/oracle_sql.json"), Main.toJson(sql))
    }
  }
}
