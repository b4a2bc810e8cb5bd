package graft.perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
    dataDir: String, expectedRows: String, outDir: String,
    gitSha: String, var sessionS: Double = 0.0)

/** `Main --workload <serve_mixed|batch_registry> --seed <n>
  * --seconds <s> --trace <0|1>`: one benchmark run. Prints a summary, then
  * as its last line the result JSON; writes every request or query with
  * its spans to `<out>/<workload>-seed<n>-trace<t>.json`. Exits 1 when any
  * output was wrong. */
object Main {
  val Workloads = Seq("serve_mixed", "batch_registry")

  /** The metrics a run reports, in BENCHMARK.json's order. */
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "total_s" -> "s", "p50_ms" -> "ms")

  val PerLayer: Seq[(String, String)] =
    Seq("api.http_ms" -> "ms") ++
      Op.Kinds.flatMap(k => Seq(s"api.$k.jobs" -> "count", s"api.$k.driver_ms" -> "ms")) ++
      Seq("store.load_s" -> "s") ++
      Seq("upsert_node", "upsert_embedding", "upsert_edge", "delete_node", "delete_edge")
        .map(op => s"store.${op}_ms" -> "ms") ++
      Seq("store.checkpoint_mb" -> "MB", "functions.hash_embed_us" -> "us",
        "graph.bfs_ms" -> "ms", "graph.bfs_jobs" -> "count", "graph.bfs_visited_rows" -> "rows",
        "hybrid.fuse_ms" -> "ms", "hybrid.fuse_jobs" -> "count",
        "rel.construct_s" -> "s", "rel.execute_s" -> "s", "rel.eager_jobs" -> "count") ++
      Batch.SampledModules.flatMap(m => Seq(s"rel.$m.s" -> "s", s"rel.$m.jobs" -> "count")) ++
      Seq("analysis", "optimization", "planning").map(p => s"catalyst.${p}_ms" -> "ms") ++
      Seq("codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
        "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
        "tasks.run_s" -> "s", "tasks.cpu_s" -> "s", "tasks.gc_s" -> "s",
        "tasks.shuffle_read_mb" -> "MB", "tasks.shuffle_write_mb" -> "MB",
        "tasks.spill_mb" -> "MB", "tasks.slot_util" -> "ratio",
        "jvm.heap_after_gc_mb" -> "MB", "trace.overhead_share" -> "ratio")

  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    Config(workload, need("seed").toLong, need("seconds").toDouble, trace,
      "perfbench/data/sf0.01", "perfbench/data/expected_rows_sf0.01.json",
      kv.getOrElse("out", "perfbench/out"),
      kv.getOrElse("git-sha", "unknown"))
  }

  def session(cfg: Config): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(cfg.outDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(cfg.outDir, "warehouse").getAbsolutePath)
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    System.out.flush()
    // exit explicitly: the engine's HTTP executor thread is not a daemon
    sys.exit(code)
  }

  def run(cfg: Config): Int = {
    new File(cfg.outDir).mkdirs()
    val t0 = System.nanoTime()
    val spark = session(cfg)
    spark.sparkContext.setLogLevel("WARN")
    cfg.sessionS = (System.nanoTime() - t0) / 1e9
    val r = cfg.workload match {
      case "batch_registry" => new Batch(spark, cfg).run()
      case _ => new Serve(spark, cfg).run()
    }
    if (cfg.trace) {
      System.gc()
      val rt = Runtime.getRuntime
      r.layer("jvm.heap_after_gc_mb", (rt.totalMemory - rt.freeMemory) / 1048576.0, "MB")
      r.layer("trace.overhead_share", RunResult.overheadShare(r.replayPairs.toSeq), "ratio")
    }
    r.metric("setup_s", r.setupS, "s")
    spark.stop()
    report(cfg, r)
    if (r.failed > 0) 1 else 0
  }

  private def env(cfg: Config, r: RunResult): Map[String, Any] = Map(
    "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
    "trace" -> cfg.trace, "cores" -> Runtime.getRuntime.availableProcessors(),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION, "git_sha" -> cfg.gitSha) ++ r.env

  /** Summary lines, the artifact file, and the result line (last). */
  def report(cfg: Config, r: RunResult): Unit = {
    val declared = if (cfg.trace) PerLayer else EndToEnd
    val measured = if (cfg.trace) r.layers else r.metrics
    val unknown = measured.keySet.toSet -- declared.map(_._1)
    require(unknown.isEmpty, s"undeclared metrics: $unknown")
    // a layer the workload does not exercise reports 0
    val metrics = declared.map { case (name, unit) =>
      val (v, u) = measured.getOrElse(name, (0.0, unit))
      require(u == unit, s"$name measured in $u, declared in $unit")
      name -> (v, unit)
    }
    val errorRate = r.failed.toDouble / math.max(1L, r.attempted)
    val e = env(cfg, r)
    println(s"[perfbench] ${e.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    r.metrics.foreach { case (k, (v, u)) => println(f"[perfbench] $k%-28s $v%14.4f $u") }
    println(f"[perfbench] ${"error_rate"}%-28s $errorRate%14.4f ratio (${r.failed} of ${r.attempted})")
    r.summary.foreach { case (k, v) => println(s"[perfbench] $k = $v") }
    if (cfg.trace) r.layers.foreach { case (k, (v, u)) => println(f"[perfbench] $k%-28s $v%14.4f $u") }
    r.errors.take(10).foreach(err => println(s"[perfbench] WRONG $err"))

    val file = new File(cfg.outDir, s"${cfg.workload}-seed${cfg.seed}-trace${if (cfg.trace) 1 else 0}.json")
    val children = r.spans.groupBy(_.parent)
    val artifact = Map(
      "env" -> e,
      "correct" -> (r.failed == 0), "attempted" -> r.attempted, "failed" -> r.failed,
      "error_rate" -> errorRate, "errors" -> r.errors.toSeq,
      "metrics" -> r.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layers" -> r.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "summary" -> r.summary.toMap, "block_s" -> r.blockS.toSeq,
      "replay_ms_traced_untraced" -> r.replayPairs.map { case (a, b) => Seq(a, b) }.toSeq,
      "records" -> r.records.toSeq,
      "spans" -> r.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "request" -> s.request,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> Tracer.selfMs(s, children.getOrElse(s.id, Nil)), "counts" -> s.counts.toMap)))
    val w = new PrintWriter(file, "UTF-8")
    try w.write(Json.write(artifact)) finally w.close()
    println(s"[perfbench] trace artifact: ${file.getPath}")

    println(Json.write(Map(
      "correct" -> (r.failed == 0), "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
  }
}
