package graftbench

import scala.collection.mutable

/** Minimal JSON writer for the harness's report and span files. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null => "null"
    case r: Raw => r.s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Per-layer numbers of a traced run. Pass-level numbers are means over the
  * traced passes of that kind; queries that failed are left out.
  */
final class Layers(tree: Tree, runner: Runner, queries: Seq[String]) {
  val good: Set[String] = queries.filterNot(runner.failed.contains).toSet
  private val traced = runner.passes.filter(_.traced).toSeq
  val full: Seq[Pass] = traced.filter(_.kind == "full")
  val count: Seq[Pass] = traced.filter(_.kind == "count")
  val first: Seq[Pass] = traced.filter(_.kind == "first")

  def mean(ps: Seq[Pass])(f: Pass => Double): Double =
    if (ps.isEmpty) 0.0 else ps.map(f).sum / ps.size
  private def queryOf(id: Int): Option[String] = tree.enclosing(id, "query").map(_.name)
  /** Spans of `kind` in pass `p` under the queries `qs`. */
  def spansIn(p: Pass, kind: String, qs: Set[String] = good): Seq[Span] =
    tree.spans.filter(s => s.kind == kind && queryOf(s.id).forall(qs) &&
      tree.isUnder(s.id, p.span))
  def total(ss: Seq[Span]): Double = ss.map(_.dur).sum / 1e9
  def self(ss: Seq[Span]): Double = ss.map(s => tree.selfTime(s.id)).sum / 1e9
  /** Jobs of pass `p` under the queries `qs`, inside a `step` span if given. */
  def jobsIn(p: Pass, step: Option[String], qs: Set[String] = good): Seq[Job] =
    tree.jobsUnder(p.span).filter { j =>
      queryOf(j.span).forall(qs) && step.forall(k => tree.enclosing(j.span, k).isDefined)
    }
  def jobSecs(js: Seq[Job]): Double = js.map(j => j.end - j.start).sum / 1e9
  def stageSum(js: Seq[Job])(f: StageStats => Long): Double =
    tree.stagesOf(js).map(f).sum.toDouble
  def schemaJobs(js: Seq[Job]): Seq[Job] = js.filter(_.callSite.contains("Tables.scala"))
  def wall(p: Pass): Double = tree.byId(p.span).dur / 1e9

  def metrics(family: Map[String, String], files: Map[Int, Long],
      pinned: Map[String, Long], cores: Int,
      untracedPassS: Double): mutable.LinkedHashMap[String, Double] = {
    def phase(p: Pass, name: String): Double = total(spansIn(p, "plan").filter(_.name == name))
    def shuffleOf(q: String, ps: Seq[Pass], step: String): Double =
      ps.map(p => stageSum(jobsIn(p, Some(step), Set(q)))(_.shuffleWrite)).sum

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("build.s") = mean(full)(p => total(spansIn(p, "build")))
    m("build.self_s") = mean(full)(p => self(spansIn(p, "build")))
    m("build.jobs") = mean(full)(p => jobsIn(p, Some("build")).size)
    m("build.first_pass_s") = mean(first)(p => total(spansIn(p, "build")))
    m("build.first_pass_jobs") = mean(first)(p => jobsIn(p, Some("build")).size)
    m("tables.schema_jobs") = mean(full)(p => schemaJobs(jobsIn(p, None)).size)
    m("tables.schema_s") = mean(full)(p => jobSecs(schemaJobs(jobsIn(p, None))))
    m("checkpoints.pinned_bytes") = pinned.values.sum.toDouble
    m("checkpoints.slots") = pinned.size
    m("plan.s") = mean(full)(p => total(spansIn(p, "plan")))
    m("plan.analysis_s") = mean(full)(phase(_, "analysis"))
    m("plan.optimization_s") = mean(full)(phase(_, "optimization"))
    m("plan.planning_s") = mean(full)(phase(_, "planning"))
    m("exec.s") = mean(full)(p => total(spansIn(p, "execute")))
    m("exec.self_s") = mean(full)(p => self(spansIn(p, "execute")))
    def st(p: Pass) = tree.stagesOf(jobsIn(p, None))
    m("exec.jobs") = mean(full)(p => jobsIn(p, None).size)
    m("exec.stages") = mean(full)(p => st(p).count(_.taskRunMs.nonEmpty))
    m("exec.tasks") = mean(full)(p => st(p).map(_.taskRunMs.size).sum)
    m("exec.task_run_s") = mean(full)(p => st(p).map(_.taskRunMs.sum).sum / 1e3)
    m("exec.task_cpu_s") = mean(full)(p => st(p).map(_.cpuNs).sum / 1e9)
    m("exec.gc_s") = mean(full)(p => st(p).map(_.gcMs).sum / 1e3)
    m("exec.core_busy") = mean(full)(p =>
      st(p).map(_.taskRunMs.sum).sum / 1e3 / (wall(p) * cores))
    m("exec.driver_idle_s") = mean(full) { p =>
      val s = tree.byId(p.span)
      (s.dur - Intervals.covered(s.start, s.end,
        jobsIn(p, None).map(j => (j.start, j.end)))) / 1e9
    }
    m("exec.straggler_s") = mean(full)(p => st(p).filter(_.taskRunMs.nonEmpty)
      .map { s =>
        val t = s.taskRunMs.sorted
        (t.last - t(t.length / 2)) / 1e3
      }.sum)
    m("exec.shuffle_write_bytes") = mean(full)(p => st(p).map(_.shuffleWrite).sum.toDouble)
    m("exec.shuffle_read_bytes") = mean(full)(p => st(p).map(_.shuffleRead).sum.toDouble)
    m("exec.spill_bytes") = mean(full)(p => st(p).map(_.spill).sum.toDouble)
    m("exec.input_records") = mean(full)(p => st(p).map(_.inputRecords).sum.toDouble)
    m("exec.failed_tasks") = mean(full)(p => st(p).map(_.failedTasks).sum.toDouble)
    m("count.s") = mean(count)(p => total(spansIn(p, "count")))
    m("count.self_s") = mean(count)(p => self(spansIn(p, "count")))
    m("count.jobs") = mean(count)(p => jobsIn(p, Some("count")).size)
    m("count.shuffle_bytes") = mean(count)(p =>
      stageSum(jobsIn(p, Some("count")))(_.shuffleWrite))
    m("count.pruned_queries") = good.count(q =>
      shuffleOf(q, count, "count") == 0 && shuffleOf(q, full, "execute") > 0)
    def sinkJobs(p: Pass) = jobsIn(p, Some("build"))
    m("sink.bytes_written") = mean(full)(p => stageSum(sinkJobs(p))(_.outputBytes))
    m("sink.records_written") = mean(full)(p => stageSum(sinkJobs(p))(_.outputRecords))
    m("sink.files_written") = mean(full)(p => files.getOrElse(p.span, 0L).toDouble)
    m("sink.write_amp") = mean(full) { p =>
      val read = stageSum(jobsIn(p, None))(_.inputBytes)
      if (read == 0) 0.0 else stageSum(sinkJobs(p))(_.outputBytes) / read
    }
    Main.Families.foreach { f =>
      m(s"family.$f.s") = mean(full)(p =>
        total(spansIn(p, "query").filter(s => family.get(s.name).contains(f))))
    }
    m("trace.overhead") = runner.medianPass(full, queries) / untracedPassS
    m
  }

  /** Layer figures of one query, as means over the traced full passes
    * (first-pass figures from the traced first pass).
    */
  def query(q: String): Seq[(String, Double)] = {
    val qs = Set(q)
    def js(p: Pass, step: Option[String]) = jobsIn(p, step, qs)
    Seq(
      "build_s" -> mean(full)(p => total(spansIn(p, "build", qs))),
      "build_jobs" -> mean(full)(js(_, Some("build")).size),
      "first_build_s" -> mean(first)(p => total(spansIn(p, "build", qs))),
      "first_build_jobs" -> mean(first)(js(_, Some("build")).size),
      "plan_s" -> mean(full)(p => total(spansIn(p, "plan", qs))),
      "exec_s" -> mean(full)(p => total(spansIn(p, "execute", qs))),
      "jobs" -> mean(full)(js(_, None).size),
      "schema_jobs" -> mean(full)(p => schemaJobs(js(p, None)).size),
      "schema_s" -> mean(full)(p => jobSecs(schemaJobs(js(p, None)))),
      "task_run_s" -> mean(full)(p => tree.stagesOf(js(p, None)).map(_.taskRunMs.sum).sum / 1e3),
      "shuffle_bytes" -> mean(full)(p => stageSum(js(p, None))(_.shuffleWrite)),
      "sink_bytes" -> mean(full)(p => stageSum(js(p, Some("build")))(_.outputBytes)),
      "count_step_s" -> mean(count)(p => total(spansIn(p, "count", qs))),
      "count_shuffle_bytes" -> mean(count)(p => stageSum(js(p, Some("count")))(_.shuffleWrite)))
  }
}

object Layers {
  def spansJson(tree: Tree): String = {
    val spans = tree.spans.sortBy(_.id).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ns" -> s.start, "dur_s" -> s.dur / 1e9,
        "self_s" -> tree.selfTime(s.id) / 1e9)
    }
    val jobs = tree.jobs.map { j =>
      Json.obj("id" -> j.id, "span" -> j.span, "start_ns" -> j.start,
        "dur_s" -> (j.end - j.start) / 1e9, "call_site" -> j.callSite,
        "stages" -> j.stages)
    }
    Json.obj("spans" -> spans, "jobs" -> jobs).s
  }
}
