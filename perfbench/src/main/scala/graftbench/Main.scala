package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (started by perfbench/run.py).
  *
  *   --workload query_suite|lakehouse_commits --seed N
  *   --seconds S --trace 0|1 --work DIR --trace-out DIR [--keep]
  *   [--write-pins FILE] [--warmup-only]
  *
  * Prints one info line ({"info": ...}: inputs, host noise, the
  * workload's own metrics, failures, checks) and, last, the result line
  * {"correct", "attempted", "failed", "metrics"}. Untraced runs report
  * the end-to-end metrics; traced runs the per-layer ones.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val keep = args.contains("--keep")
    val cores = Runtime.getRuntime.availableProcessors()

    val wl: Workload = workload match {
      case "query_suite" => new QuerySuite(opt.get("write-pins"))
      case "lakehouse_commits" => new Lakehouse
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val microBefore = { HostNoise.microS(); (1 to 2).map(_ => HostNoise.microS()).min }
    val loadBefore = HostNoise.loadAvg1()

    val s0 = System.nanoTime()
    val spark = session(cores, work.resolve("tmp"))
    val sessionS = (System.nanoTime() - s0) / 1e9
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, seed, seconds, tracer, cores)

    // the inputs: the benchmark's own generators, not part of setup_s
    val i0 = System.nanoTime()
    tracer.span("bench", "inputs")(wl.setup(ctx, work.resolve("in")))
    val inputsS = (System.nanoTime() - i0) / 1e9
    val w0 = System.nanoTime()
    tracer.span("bench", "warmup")(wl.warmup(ctx))
    val warmupS = (System.nanoTime() - w0) / 1e9
    if (args.contains("--warmup-only")) {
      // the build's class-data-sharing dump: every class a run loads is
      // loaded by now
      spark.stop()
      return
    }
    val setupS = sessionS + warmupS

    val steal0 = HostNoise.stealS()
    val cpu0 = HostNoise.processCpuS()
    val jit0 = HostNoise.jitS()
    ctx.startMeasuring()
    wl.run(ctx)
    val measuredS = ctx.elapsedS - ctx.measuredStart
    val stealS = HostNoise.stealS() - steal0
    val cpuS = HostNoise.processCpuS() - cpu0
    val jitS = HostNoise.jitS() - jit0
    tracer.span("bench", "layers")(wl.traceLayers(ctx))
    val peakRss = HostNoise.peakRssMb()

    val c0 = System.nanoTime()
    tracer.span("bench", "check")(wl.checkOutputs(ctx))
    val checkS = (System.nanoTime() - c0) / 1e9
    tracer.drain()
    val layerMetrics = if (trace) engineMetrics(ctx, wl) ++ ctx.layer else Nil
    val traceOut = Paths.get(opt("trace-out"))
    tracer.write(traceOut.resolve(s"$workload-seed$seed.jsonl"))
    Files.createDirectories(traceOut)
    Files.writeString(traceOut.resolve(s"ops-$workload-seed$seed.jsonl"), ctx.ops.map(o => Json.obj(Seq(
      "kind" -> Json.str(o.kind), "round" -> o.round.toString, "traced" -> o.traced.toString,
      "s" -> Json.num(o.s), "error" -> o.error.map(Json.str).getOrElse("null")))).mkString("", "\n", "\n"))

    // hygiene: the engine's own temporary roots must be gone by now
    val tmpLeaked = Option(work.resolve("tmp").toFile.list()).map(_.toSeq).getOrElse(Nil)
      .filter(_.startsWith("graft-"))
    if (!keep) Files2.deleteTree(work.resolve("in"))
    val microAfter = (1 to 2).map(_ => HostNoise.microS()).min
    val loadAfter = HostNoise.loadAvg1()
    spark.stop()

    val attempted = ctx.ops.size
    val failedOps = ctx.ops.filter(_.error.nonEmpty)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_s_geomean", opGeomean(ctx.ops.toSeq, wl.kindStat), "s"),
      Metric("round_s", roundS(ctx.ops.toSeq, wl.kindStat), "s"),
      Metric("peak_rss_mb", peakRss, "MB"))
    val correct = ctx.checks.forall(_._2) && failedOps.isEmpty && attempted > 0

    val info = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> trace.toString, "cores" -> cores.toString,
      "inputs" -> Json.obj(ctx.inputs.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "host" -> Json.obj(Seq(
        "micro_s_before" -> Json.num(microBefore), "micro_s_after" -> Json.num(microAfter),
        "load1_before" -> Json.num(loadBefore), "load1_after" -> Json.num(loadAfter),
        "steal_s_measured" -> Json.num(stealS), "cpu_s_measured" -> Json.num(cpuS),
        "jit_s_measured" -> Json.num(jitS))),
      "phases_s" -> Json.obj(Seq(
        "session" -> Json.num(sessionS),
        "inputs" -> Json.num(inputsS),
        "warmup" -> Json.num(warmupS), "measured" -> Json.num(measuredS),
        "check" -> Json.num(checkS))),
      "ops" -> Json.obj(Seq(
        "attempted" -> attempted.toString, "failed" -> failedOps.size.toString,
        "failed_ops" -> Json.num(if (attempted == 0) 1.0 else failedOps.size.toDouble / attempted),
        "total_s_by_round" -> Json.arr(ctx.ops.toSeq.groupBy(_.round).toSeq.sortBy(_._1).map(r => Json.num(r._2.map(_.s).sum))),
        "median_s_by_kind" -> Json.obj(ctx.ops.toSeq.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, g) =>
          k -> Json.num(Stats.median(g.map(_.s))) }),
        "failures" -> Json.arr(failedOps.toSeq.map(o =>
          Json.obj(Seq("kind" -> Json.str(o.kind), "round" -> o.round.toString,
            "error" -> Json.str(o.error.get))))))),
      "metrics" -> Json.metrics(e2e ++ ctx.extra),
      "layers" -> Json.metrics(layerMetrics),
      "checks" -> Json.arr(ctx.checks.toSeq.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d))) }),
      "unattributed_job_sites" -> Json.arr(tracer.unattributedSites.toSeq.map(Json.str)),
      "tmp_leaked" -> Json.arr(tmpLeaked.map(Json.str))))
    println(Json.obj(Seq("info" -> info)))

    val reported = if (trace) layerMetrics.filter(m => PerLayer.contains(m.name)) else e2e
    println(Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failedOps.size.toString, "metrics" -> Json.metrics(reported))))
  }

  /** The per-layer metrics every workload reports (BENCHMARK.json). */
  val PerLayer: Set[String] = Set("engine.jobs", "engine.stages", "engine.tasks",
    "engine.task_cpu_s", "engine.driver_only_s", "engine.slot_util",
    "engine.shuffle_write_mb", "engine.spill_mb", "engine.gc_s", "engine.input_mb",
    "engine.unattributed_jobs", "plans.plan_s", "trace.overhead_pct")

  private def perKind(ops: Seq[OpRec], stat: Seq[Double] => Double): Iterable[Double] =
    ops.groupBy(_.kind).values.map(g => stat(g.map(_.s)))

  /** Sum over operation kinds of each kind's latency (the workload's
    * statistic over its samples): the cost of one operation of every kind. */
  def roundS(ops: Seq[OpRec], stat: Seq[Double] => Double): Double = perKind(ops, stat).sum

  /** Geometric mean over operation kinds of each kind's latency: the
    * typical operation, moved in proportion by a speed-up of any kind. */
  def opGeomean(ops: Seq[OpRec], stat: Seq[Double] => Double): Double = {
    val ms = perKind(ops, stat)
    math.exp(ms.map(math.log).sum / ms.size)
  }

  /** Engine and planner counters over the traced ops, per op, plus the
    * tracing overhead: traced rounds against the untraced rounds after
    * the first period (see Ctx.anotherRound). */
  private def engineMetrics(ctx: Ctx, wl: Workload): Seq[Metric] = {
    val tr = ctx.tracer
    val traced = ctx.ops.toSeq.filter(o => o.traced && o.error.isEmpty)
    val opSpans = tr.spans.toSeq.filter(s => s.parent == 0 && s.layer != "bench")
    val n = math.max(1, traced.size).toDouble
    val tot = new EngineAcc
    var driverOnlyMs = 0L
    var wallMs = 0L
    var planMs = 0L
    opSpans.foreach { s =>
      val e = tr.engine(s.id)
      tot.add(e)
      val wall = s.t1Ms - s.t0Ms
      wallMs += wall
      driverOnlyMs += wall - Tracer.covered(e.stageIntervals.toSeq, s.t0Ms, s.t1Ms)
      planMs += tr.planMs(s.t0Ms, s.t1Ms)
    }
    val untraced = ctx.ops.toSeq.filter(o => !o.traced && o.round >= ctx.tracePeriod)
    val kinds = traced.map(_.kind).toSet.intersect(untraced.map(_.kind).toSet).toSeq
    // means: the untraced period sits between the traced ones, so a
    // linear drift over the run cancels out of the mean
    def sumStat(os: Seq[OpRec]) = kinds.map { k =>
      val xs = os.filter(_.kind == k).map(_.s)
      xs.sum / xs.size
    }.sum
    val overhead = if (kinds.isEmpty) Double.NaN else 100.0 * (sumStat(traced) / sumStat(untraced) - 1.0)
    val mb = 1024.0 * 1024.0
    Seq(
      Metric("engine.jobs", tot.jobs / n, "jobs/op"),
      Metric("engine.stages", tot.stages / n, "stages/op"),
      Metric("engine.tasks", tot.tasks / n, "tasks/op"),
      Metric("engine.task_cpu_s", tot.cpuNs / 1e9 / n, "s/op"),
      Metric("engine.driver_only_s", driverOnlyMs / 1000.0 / n, "s/op"),
      Metric("engine.slot_util", if (wallMs == 0) 0.0 else tot.runMs.toDouble / (wallMs * ctx.cores), "ratio"),
      Metric("engine.shuffle_write_mb", tot.shuffleWriteB / mb / n, "MB/op"),
      Metric("engine.spill_mb", tot.spillB / mb / n, "MB/op"),
      Metric("engine.gc_s", tot.gcMs / 1000.0 / n, "s/op"),
      Metric("engine.input_mb", tot.inputB / mb / n, "MB/op"),
      Metric("engine.unattributed_jobs", tr.unattributedJobs.get().toDouble, "count"),
      Metric("plans.plan_s", planMs / 1000.0 / n, "s/op"),
      Metric("trace.overhead_pct", overhead, "%"),
      Metric("trace.traced_ops", traced.size.toDouble, "count"))
  }

  def session(cores: Int, tmp: Path): SparkSession = {
    Files.createDirectories(tmp)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark's names for the per-query cleanup, shared by the workloads:
    * drop cached and checkpointed blocks a previous op left behind. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
  }
}
