package graftbench

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.{Graft, SparkEntry}
import graft.core.{Moments, Pipeline}
import graft.io.{Relayout, Sources}

/** One benchmark workload in one JVM; see perfbench/README.md.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * data (the scale-factor directory), cpus, out (result JSON path),
  * trace-out (span JSON path, written when trace is 1). The working
  * directory must be the run's scratch directory: the program writes
  * its relayout copies under `user.dir`, and outputs land in `out/`. */
object Main {

  /** The session panel: query name -> layer family. */
  val Panel: Seq[(String, String)] = Seq(
    "q_sim_pearson" -> "rel.sim",
    "q_sim_pearson_dec" -> "rel.sim",
    "q_profile_columns" -> "rel",
    "q_scan_filter_project" -> "rel",
    "q_minhash_near_dup" -> "ext",
    "q_stream_dedup_gate" -> "streaming",
    "q_cdc_stream_latest" -> "streaming")

  /** The fact tables `Sources.ratings` reads. */
  val RatingsTables: Seq[String] = Seq("lineitem", "orders")

  def main(args: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val mainNs = System.nanoTime()
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dir = opt("data")
    val cpus = opt("cpus")
    // must precede any touch of the query and oracle registries
    sys.props("graft.oracle.sfdir") = dir
    val spark = graft.core.Tuning.defaults(SparkSession.builder()
      .master(s"local[$cpus]"))
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get("warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - mainNs) / 1e9
    val t = new Trace(spark, opt("trace") == "1", mainEpochMs, mainNs)
    val bench = new Bench(spark, t, dir, opt("seconds").toDouble, opt("seed").toLong)
    val result = workload match {
      case "cf_batch" => bench.cfBatch()
      case "session_panel" => bench.sessionPanel()
      case other => sys.error(s"unknown workload $other")
    }
    val common = Map(
      "main_epoch_ms" -> mainEpochMs.toString,
      "spark_session_s" -> Json.num(sessionS),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "java_version" -> Json.str(sys.props("java.version")),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)
    if (t.enabled)
      Files.writeString(Paths.get(opt("trace-out")), t.json(
        Map("run" -> Json.str(t.runId), "workload" -> Json.str(workload)) ++
          result.get("cf_plan").map("cf_plan" -> _)))
    Files.writeString(Paths.get(opt("out")),
      (common ++ result - "cf_plan").map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",\n", "}"))
    // The run directory, Spark's scratch space included, is deleted by
    // the caller; skipping the orderly shutdown saves its seconds.
    System.out.flush(); System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  /** High-water resident set of this JVM (Linux), -1 where unknown. */
  def peakRssMb: Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toLong / 1024.0
    } catch { case NonFatal(_) => -1.0 }
}

/** One timed operation: `build` calls into the program and returns the
  * DataFrame, the pass's sink forces it in full. */
final case class Op(name: String, family: String, build: () => DataFrame)

/** One operation's run within a pass. */
final case class Run(op: Op, pass: String, build: Span, exec: Option[Span], error: Option[String]) {
  def seconds: Double = build.seconds + exec.fold(0.0)(_.seconds)
}

/** The two workloads. Each is a set-up, one cold pass over its
  * operations, then warm passes (see [[Bench.session]]). Every timed
  * output is forced in full: the cold pass writes parquet (kept for the
  * oracle check), warm passes use the `noop` sink. Nothing is timed
  * with `count()`. */
final class Bench(spark: SparkSession, t: Trace, dir: String,
                  seconds: Double, seed: Long) {
  import Main.{Panel, RatingsTables}

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def out(name: String): String =
    Paths.get("out", name).toAbsolutePath.toString

  private def nums(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")

  private def pass(label: String, ops: Seq[Op], sink: (Op, DataFrame) => Unit): (Span, Seq[Run]) = {
    val (runs, s) = t.span(s"pass:$label") {
      ops.map { op =>
        var exec: Option[Span] = None
        var err: Option[String] = None
        val (df, build) = t.span(s"build:${op.name}") {
          try Some(op.build()) catch { case NonFatal(e) => err = Some(e.toString); None }
        }
        df.foreach { d =>
          exec = Some(t.action(s"exec:${op.name}") {
            try sink(op, d) catch { case NonFatal(e) => err = Some(e.toString) }
          }._2)
        }
        Run(op, label, build, exec, err)
      }
    }
    (s, runs)
  }

  private def writeOut(op: Op, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(out(op.name))

  /** What [[session]] measured: the record fields both workloads share,
    * the cold runs, the measured warm passes, and the cache state at
    * the end of the cold pass. */
  private final case class Measured(fields: Map[String, String], cold: Seq[Run],
                                    warm: Seq[(Span, Seq[Run])], cached: Set[Int], cacheBytes: Long)

  /** Cold pass, then warm passes until `seconds` have gone by and at
    * least `minWarm` were made. The first warm pass only lets the JIT
    * settle after the cold pass and is left out of the warm figures. */
  private def session(ops: Seq[Op], minWarm: Int): Measured = {
    val sc = spark.sparkContext
    val ready = t.now
    val (coldSpan, cold) = pass("cold", ops, writeOut)
    val cached = sc.getPersistentRDDs.keySet.toSet
    val cacheBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val t0 = t.now
    var warm = Vector.empty[(Span, Seq[Run])]
    do warm :+= pass(s"warm${warm.size + 1}", ops, (_, d) => noop(d))
    while (t.now - t0 < seconds || warm.size < minWarm)
    val runs = cold ++ warm.flatMap(_._2)
    val measured = warm.drop(1)
    val warmRuns = measured.flatMap(_._2)
    def times(rs: Seq[Run]) = rs.map(r => Json.num(r.seconds)).mkString("[", ",", "]")
    val fields = Map(
      "ready_s" -> Json.num(ready),
      "passes" -> (1 + warm.size).toString,
      "attempted" -> runs.size.toString,
      "failed_runs" -> runs.filter(_.error.isDefined)
        .map(r => s"[${Json.str(r.op.name)},${Json.str(r.pass)},${Json.str(r.error.get)}]")
        .mkString("[", ",", "]"),
      "outputs" -> Json.str(out("")),
      "order" -> ops.map(o => Json.str(o.name)).mkString("[", ",", "]"),
      "cold" -> cold.map(r => s"${Json.str(r.op.name)}:${Json.num(r.seconds)}").mkString("{", ",", "}"),
      "warm" -> ops.map(o => s"${Json.str(o.name)}:${times(warm.flatMap(_._2).filter(_.op == o))}")
        .mkString("{", ",", "}"),
      "timings" -> nums(Seq(
        "cold_pass_s" -> coldSpan.seconds,
        "warm_pass_s" -> median(measured.map(_._1.seconds)),
        "warm_query_p50_s" -> median(warmRuns.map(_.seconds)))))
    Measured(fields, cold, measured, cached, cacheBytes)
  }

  /** The per-layer figures of a traced run. Spark and plan counters
    * cover the measured warm actions: counts and plan operators as means
    * per action, task time and bytes per warm pass. The io and core
    * layers are then priced on their own: the ratings source, the pair
    * moments over it and the whole pipeline, each forced through
    * `noop`, with the pair counts read from the moments plan. */
  private def layers(m: Measured, relayoutS: Double, decFirstS: Double): String = {
    val warmRuns = m.warm.flatMap(_._2)
    val actions = warmRuns.flatMap(_.exec)
    val st = actions.map(t.rollup)
    val n = math.max(1, actions.size).toDouble
    val per = math.max(1, m.warm.size).toDouble
    val plans = st.flatMap(_.plan).map(PlanCounts(_))
    val rebuilds = (spark.sparkContext.getPersistentRDDs.keySet.toSet -- m.cached).size
    val families = Seq("rel", "rel.sim", "ext", "streaming").map { f =>
      s"$f.warm_s" -> warmRuns.filter(_.op.family == f).map(_.seconds).sum / per
    }
    def probe(name: String, df: => DataFrame): Span = t.action(s"probe:$name")(noop(df))._2
    val ratings = probe("Sources.ratings", Sources.ratings(spark, dir))
    val moments = probe("Moments.pairMoments", Moments.pairMoments(Sources.ratings(spark, dir)))
    val pipeline = probe("Pipeline.vector", Pipeline.vector(Sources.ratings(spark, dir)))
    val mplan = t.rollup(moments).plan
    nums(Seq(
      "io.relayout_s" -> relayoutS,
      "io.ratings_s" -> ratings.seconds,
      "io.input_bytes" -> st.map(_.inputBytes).sum / per,
      "core.moments_s" -> moments.seconds,
      "core.pair_rows_emitted" -> mplan.map(PlanRows.joinRows).getOrElse(Double.NaN),
      "core.pair_rows" -> mplan.map(PlanRows.rootAggRows).getOrElse(Double.NaN),
      "core.pipeline_s" -> pipeline.seconds,
      "core.moments_dec_first_s" -> decFirstS,
      "cache.artifacts" -> m.cached.size.toDouble,
      "cache.bytes" -> m.cacheBytes.toDouble,
      "cache.rebuilds_warm" -> rebuilds.toDouble,
      "spark.jobs" -> st.map(_.jobs).sum / n,
      "spark.stages" -> st.map(_.stages).sum / n,
      "spark.tasks" -> st.map(_.tasks).sum / n,
      "spark.build_s" -> median(warmRuns.map(_.build.seconds)),
      "spark.plan_s" -> median(st.map(_.planS)),
      "spark.idle_s" -> median(actions.zip(st).map { case (s, c) => t.idleSeconds(s, c) }),
      "spark.task_run_s" -> st.map(_.taskRunMs).sum / 1e3 / per,
      "spark.task_cpu_s" -> st.map(_.taskCpuNs).sum / 1e9 / per,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3 / per,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum / per,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleRead).sum / per,
      "spark.spill_bytes" -> st.map(_.spill).sum / per,
      "spark.peak_exec_mem_bytes" -> st.map(_.peakExecMem).foldLeft(0L)(math.max).toDouble) ++
      PlanCounts.Names.map(k => s"plan.$k" -> plans.map(_(k)).sum / math.max(1, plans.size).toDouble) ++
      families)
  }

  /** The program's DuckDB twins of `queries`, for the oracle check. */
  private def writeOracleSql(queries: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(out("oracle_sql.json")),
      queries.map(q => s"${Json.str(q)}:${Json.str(sql(q))}").mkString("{", ",\n", "}"))
  }

  // ---------------------------------------------------------------- cf_batch

  /** The reference's VectorSimilarities job as a user runs it, from the
    * ratings source to the neighbour table, in a fresh JVM: written as
    * parquet in the cold pass, forced through `noop` when warm. */
  def cfBatch(): Map[String, String] = {
    val job = Op("cf_job", "core", () => {
      t.span("Relayout.path")(RatingsTables.foreach(Relayout.path(spark, dir, _)))
      val (ratings, _) = t.span("Sources.ratings")(Sources.ratings(spark, dir))
      t.span("Pipeline.vector")(Pipeline.vector(ratings))._1
    })
    val m = session(Seq(job), minWarm = 3)
    writeOracleSql(Seq("q_vector_pipeline"))
    if (!t.enabled) return m.fields
    val cold = m.cold.head
    val relayout = t.spans.find(s => s.name == "Relayout.path" && s.parent == cold.build.id).get
    m.fields ++ Map(
      "layers" -> layers(m, relayout.seconds, 0.0),
      "cf_plan" -> Json.str(cold.exec.flatMap(t.rollup(_).plan).map(_.toString).getOrElse("")))
  }

  // ----------------------------------------------------------- session_panel

  /** One session over the query panel, in the seed's order, after the
    * set-up a user's session does: the relayout copies and the catalog
    * registration. */
  def sessionPanel(): Map[String, String] = {
    val names = Panel.map(_._1)
    val missing = names.filterNot(n =>
      SparkEntry.queries.contains(n) && SparkEntry.oracleSql.contains(n))
    require(missing.isEmpty, s"panel queries without a query or oracle: $missing")
    val ops = new scala.util.Random(seed).shuffle(Panel).map { case (q, f) =>
      Op(q, f, () => SparkEntry.queries(q)(spark, dir))
    }
    val (_, relayout) = t.span("Relayout.path")(RatingsTables.foreach(Relayout.path(spark, dir, _)))
    t.span("Graft.registerTables")(Graft.registerTables(spark, dir))
    val m = session(ops, minWarm = 4)
    writeOracleSql(names)
    if (!t.enabled) return m.fields
    // the DECIMAL moment cache's first-touch build, as q_sim_pearson_dec's
    // cold time over its warm median
    val dec = "q_sim_pearson_dec"
    val decFirst = m.cold.find(_.op.name == dec).get.seconds -
      median(m.warm.flatMap(_._2).filter(_.op.name == dec).map(_.seconds))
    m.fields + ("layers" -> layers(m, relayout.seconds, decFirst))
  }
}

/** Row counts read from an executed plan's SQL metrics. */
object PlanRows extends AdaptiveSparkPlanHelper {
  private def rows(p: SparkPlan): Double =
    p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(Double.NaN)

  /** Rows out of the plan's (single) join: the emitted pairs. */
  def joinRows(plan: SparkPlan): Double =
    collectFirst(plan) { case j if j.nodeName.contains("Join") => rows(j) }.getOrElse(Double.NaN)

  /** Rows out of the top aggregate: the distinct pairs. */
  def rootAggRows(plan: SparkPlan): Double =
    collectFirst(plan) { case a if a.nodeName.contains("Aggregate") => rows(a) }.getOrElse(Double.NaN)
}
