package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse => parseJson, render}

import scala.collection.mutable

/** The one timing main: times declared queries on SPARK_GRAFT_SF_DIR.
  *
  * Usage: `Bench [bench|retime|explain|profile] [-g<groups>] [-n<reps>] [query…]`
  * (no queries = every declared query; `-g` defaults to
  * SPARK_GRAFT_BENCH_PASSES, else 3; `-n` defaults to 3).
  *  - bench (default): the full measurement below; writes bench.json.
  *  - retime: the same sampling for a subset, one
  *    `name min=… med=… samples=…` line per query (`name FAILED: …` for a
  *    query that fails; the batch continues). `-g1 -n4` is a solo check.
  *  - explain: the formatted physical plan of each query.
  *  - profile: each sample split into build, plan and execute time.
  *
  * Each query is materialized through the `noop` sink — unlike `count()`,
  * this executes the full plan with all output columns (count() lets
  * Catalyst prune projections and skip result decoding, which would
  * flatter the numbers).
  *
  * Output contract (round-5 verdict: the driver's stdout capture truncated
  * the per-query map five rounds running), bench mode:
  *  - stdout: ONE SHORT line — totals and counts only, no per-query map.
  *  - bench.json (`GRAFT_BENCH_OUT`, default repo root): the full artifact —
  *    per-query min/median, every raw sample per query (`queries_samples`,
  *    in run order), and the solo-rerun pass (`queries_solo`) for suspects.
  */
object Bench {
  private val modes = Seq("bench", "retime", "explain", "profile")
  private val usage =
    s"usage: Bench [${modes.mkString("|")}] [-g<groups>] [-n<reps>] [query...]"
  private val Flag = "-([gn])([0-9]+)".r

  /** A parsed command line: `groups` spaced sweeps of `reps` back-to-back
    * runs per query, over `queries` in declaration order. */
  final case class Opts(mode: String, groups: Int, reps: Int, queries: Seq[QDef])

  /** Rejects an unknown mode, query name or flag before any query runs. */
  def parse(args: Seq[String]): Opts = {
    val (mode, rest) = args match {
      case m +: tail if modes.contains(m) => (m, tail)
      case _ => ("bench", args)
    }
    def flag(f: String): Option[Int] =
      rest.collect { case Flag(`f`, v) => v.toInt.max(1) }.lastOption
    val names = rest.filter { case Flag(_, _) => false; case _ => true }
    val all = SparkEntry.all
    val unknown = names.filterNot(n => all.exists(_.name == n))
    require(unknown.isEmpty, s"unknown mode, flag or query: ${unknown.mkString(", ")}; $usage")
    val groups = flag("g").orElse(sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.toIntOption).map(_.max(1))).getOrElse(3)
    Opts(mode, groups, flag("n").getOrElse(3),
      all.filter(q => names.isEmpty || names.contains(q.name)))
  }

  /** Seconds spent building the frame, forcing its physical plan (profile
    * mode only; the write plans again, so exec includes planning), and
    * executing it. */
  final case class Sample(build: Double, plan: Double, exec: Double) {
    def total: Double = build + plan + exec
  }

  // benchFn (when present) is the query minus its one-time setup — table
  // builds belong outside the timed lambda (QDef.benchFn scaladoc).
  private def frame(spark: SparkSession, sfDir: String, q: QDef) =
    q.benchFn.getOrElse(q.fn)(spark, sfDir)

  private def timed(spark: SparkSession, sfDir: String, q: QDef, splitPlan: Boolean = false): Sample = {
    val t0 = System.nanoTime()
    val df = frame(spark, sfDir, q)
    val t1 = System.nanoTime()
    if (splitPlan) df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    val s = Sample((t1 - t0) / 1e9, (t2 - t1) / 1e9, (System.nanoTime() - t2) / 1e9)
    // stderr breadcrumb for pathological samples (round-17: a stall class
    // 10-100x a query's floor was invisible in the artifact until after
    // the run; the trace timestamps it for forensics against GC/cleaner
    // logs). Threshold high enough to stay silent on a healthy sweep.
    if (s.total > 5.0) System.err.println(
      f"[bench] SLOW ${q.name} ${s.total}%.1f s at ${java.time.Instant.now()}")
    s
  }

  /** Every sample per query in run order, and each failed query's error. */
  final case class Sweep(samples: Map[String, Vector[Sample]], failed: Map[String, Throwable]) {
    def totals(q: String): Vector[Double] = samples.getOrElse(q, Vector.empty).map(_.total)
    /** The query's least sample, -1 when it failed or has none. */
    def min(q: String): Double =
      if (failed.contains(q) || totals(q).isEmpty) -1.0 else totals(q).min
  }

  // Measurement design (the product of four rounds of bench forensics):
  // one warmup sweep, then `groups` SPACED sweeps each running a query
  // several times back-to-back, reporting the MIN across all samples.
  //  - Round 2 (1 pass/query): a single GC pause branded a code-identical
  //    query 3.2x slower.
  //  - Round 3 (3 consecutive passes, median): a multi-second transient
  //    host disturbance covered all 3 back-to-back passes, so the median
  //    kept the inflated number — the "d18_l2_normalize 6x regression"
  //    was exactly this (adjacent run positions inflated together; solo
  //    reruns reproduced the fast numbers on identical code).
  //  - Plain pass-major interleaving with a median fixed the robustness
  //    but added a flat ~0.18 s/query: Spark's generated-class cache
  //    holds ~100 entries, so with 123 queries between samples every
  //    sample re-compiled its codegen.
  //  - Round 5: min-of-6 across 2 spaced groups still branded 3 adjacent
  //    queries 1.7-4.3x slower on code-identical operators — a
  //    DETERMINISTIC in-sweep disturbance (same predecessors every group)
  //    is invisible to any number of spaced groups. Hence round 6: 3
  //    groups (default), every raw sample logged to bench.json, and a
  //    SOLO rerun pass for any query whose sweep min is suspicious vs the
  //    prior round's bench.json — solo timing is the ground truth a
  //    deterministic sweep disturbance cannot touch.
  // The grouped design gets both properties: later runs in each group are
  // codegen-hot (the group's 1st run just compiled it), groups sit
  // minutes apart so a short disturbance cannot cover them all, and MIN
  // is the right estimator for a deterministic workload — timing noise
  // (GC, host contention, recompile) is strictly additive, so the
  // smallest observation is the least-disturbed hot time.
  // 3 back-to-back runs per group by default: the 1st pays any codegen
  // recompile, and CPU-bound queries need a couple of hot iterations for
  // the JIT to finish tiering the generated loops (measured: 2-per-group
  // left regex/hash-heavy queries 1.3-2x above their fully-warm floor).
  def sweep(spark: SparkSession, sfDir: String, o: Opts): Sweep = {
    val samples = mutable.Map[String, Vector[Sample]]().withDefaultValue(Vector.empty)
    val failed = mutable.LinkedHashMap[String, Throwable]()
    def attempt(q: QDef)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          // full stack, not getMessage (round-16: an in-bench analysis
          // INTERNAL_ERROR's cause was swallowed, leaving the failure
          // undiagnosable)
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          e.printStackTrace(System.err)
          failed(q.name) = e
      }
    val profile = o.mode == "profile"
    o.queries.foreach(q => attempt(q)(timed(spark, sfDir, q, profile))) // warmup, untimed
    for (_ <- 1 to o.groups; q <- o.queries; _ <- 1 to o.reps if !failed.contains(q.name))
      attempt(q)(samples(q.name) = samples(q.name) :+ timed(spark, sfDir, q, profile))
    Sweep(samples.toMap, failed.toMap)
  }

  private def med(xs: Vector[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) -1.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def num(v: Double): JValue = if (v < 0) JInt(-1) else JDouble(v)

  /** The bench.json artifact. A failed query reports -1 as its min and
    * median and is left out of `value`, the total of the per-query mins;
    * a solo rerun replaces the sweep min when it is smaller. */
  def report(queries: Seq[String], sw: Sweep, solo: Map[String, Double],
             groups: Int, sfDir: String): JObject = {
    val mins = queries.map { q =>
      val s = sw.min(q)
      q -> (if (s < 0) s else solo.get(q).filter(v => v >= 0 && v < s).getOrElse(s))
    }
    JObject(
      "metric" -> JString("total"),
      "value" -> JDouble(mins.map(_._2).filter(_ >= 0).sum),
      "unit" -> JString("sec"),
      "queries" -> JObject(mins.map { case (q, v) => q -> num(v) }: _*),
      // same failed/empty guard as the min: a query that failed partway
      // through the timed loop must not report a real-looking median
      "queries_med" -> JObject(queries.map(q =>
        q -> num(if (sw.failed.contains(q)) -1.0 else med(sw.totals(q)))): _*),
      "queries_samples" -> JObject(queries.map(q =>
        q -> JArray(sw.totals(q).map(JDouble(_)).toList)): _*),
      "queries_solo" -> JObject(solo.toSeq.sortBy(_._1).map { case (q, v) => q -> num(v) }: _*),
      "groups" -> JInt(groups),
      "sf" -> JString(sfDir))
  }

  private def bench(spark: SparkSession, sfDir: String, o: Opts): Unit = {
    val sw = sweep(spark, sfDir, o)
    val out = java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_BENCH_OUT", "bench.json"))
    // Solo-rerun pass (round-5 verdict item 1a): any query whose sweep min
    // exceeds 1.5x its previous-round min (prior bench.json, if readable)
    // or exceeds 2 s gets re-run alone — min of 3 — AFTER the sweep, when
    // no deterministic predecessor can disturb it. Both numbers are
    // reported; the headline `queries` min takes the smaller (min over all
    // observations is the design's estimator).
    val prevMin: Map[String, Double] =
      scala.util.Try(parseJson(java.nio.file.Files.readString(out)) \ "queries").toOption
        .collect { case JObject(fs) => fs.collect {
          case (q, JDouble(v)) => q -> v
          case (q, JInt(v)) => q -> v.toDouble
        } }
        .getOrElse(Nil).toMap
    val suspects = o.queries.filter { q =>
      val v = sw.min(q.name)
      v >= 0 && (v > 2.0 || prevMin.get(q.name).exists(p => p > 0 && v > 1.5 * p))
    }
    val solo = suspects.map { q =>
      val runs = (1 to 3).flatMap(_ => scala.util.Try(timed(spark, sfDir, q).total).toOption)
      val v = runs.minOption.getOrElse(-1.0)
      System.err.println(f"[bench] solo rerun ${q.name}: sweep ${sw.min(q.name)}%.3f s, solo $v%.3f s")
      q.name -> v
    }.toMap
    val art = report(o.queries.map(_.name), sw, solo, o.groups, sfDir)
    try java.nio.file.Files.writeString(out, compact(render(art)) + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] bench.json write failed: $e") }
    // stdout: ONE SHORT LINE (totals only). Five rounds of driver capture
    // truncated any line carrying the 125-key map; the map lives in
    // bench.json, which the line names.
    val JDouble(total) = art \ "value"
    val totalR = BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    println(compact(render(JObject(
      "metric" -> JString("total"), "value" -> JDecimal(totalR), "unit" -> JString("sec"),
      "sf" -> JString(sfDir), "n_queries" -> JInt(o.queries.size),
      "n_failed" -> JInt(sw.failed.size), "queries_in" -> JString(out.toString)))))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    try o.mode match {
      case "bench" => bench(spark, sfDir, o)
      case "explain" => o.queries.foreach { q =>
        println(s"===== ${q.name} =====")
        println(frame(spark, sfDir, q).queryExecution.explainString(FormattedMode))
      }
      case mode =>
        val sw = sweep(spark, sfDir, o)
        o.queries.foreach { q =>
          val xs = sw.totals(q.name)
          sw.failed.get(q.name) match {
            case Some(e) => println(s"${q.name} FAILED: ${e.toString.linesIterator.next()}")
            case None if mode == "profile" =>
              sw.samples(q.name).zipWithIndex.foreach { case (s, i) =>
                println(f"${q.name} run${i + 1} build=${s.build}%.3f plan=${s.plan}%.3f exec=${s.exec}%.3f")
              }
            case None =>
              println(f"${q.name} min=${xs.min}%.3f med=${med(xs)}%.3f " +
                s"samples=${xs.map(v => f"$v%.2f").mkString(",")}")
          }
        }
    } finally spark.stop()
  }
}
