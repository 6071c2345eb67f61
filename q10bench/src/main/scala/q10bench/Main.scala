package q10bench

import scala.collection.mutable

import org.apache.spark.Q10BenchBus
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{DeltaEngine, SqlCompiler}
import graft.streaming.DeltaEngine.Evt

/** The continuous-Q10 benchmark. One process runs one workload:
  *
  *   --workload q10_replay | q10_stream
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --scratch <dir>
  *
  * `--work` holds the base tables and the trace files; `--scratch` this
  * run's checkpoints and shuffle files.
  *
  * It prints a readable record and, as its last stdout line, one JSON
  * object `{"correct", "attempted", "failed", "metrics"}`: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics of a
  * separate traced pass with `--trace 1`. See README.md beside this
  * package for the metrics, their units and what each layer moves. */
object Main {
  val Workloads = Seq("q10_replay", "q10_stream")
  val Sf = 0.1
  /** Set-up rounds per run; `setup_s` takes their median. */
  val SetupRounds = 3
  /** View builds and leaf loads the replay makes untimed before it
    * measures. */
  val ReplayWarmOps = 4
  /** Update batches a stream run makes at least, so that each kind has
    * a median of three or more. */
  val MinUpdates = 6
  /** Times each stream run materializes its final view. */
  val ViewRepeats = 5
  /** Update batches (half of each kind) a stream run delivers untimed
    * after the initial load, before it measures: the first updates on
    * the full state run up to ~30% slower. */
  val Settle = 6

  final case class Metric(name: String, value: Double, unit: String, samples: Seq[Double] = Nil)

  /** A timing reported as the median of its samples. */
  def timing(name: String, samples: Seq[Double]): Metric =
    Metric(name, median(samples), "s", samples)

  /** Every per-layer metric a traced run prints, with its unit; see
    * README.md for the end-to-end metric each should move. */
  val PerLayer: Seq[(String, String)] =
    Seq("tables.load_s" -> "s", "tables.jobs" -> "count",
      "compiler.compile_s" -> "s", "compiler.stages" -> "count",
      "changelog.build_s" -> "s") ++
    Data.relations.map(r => s"changelog.events.$r" -> "count") ++
    Data.relations.flatMap(r => Seq(s"engine.$r.events_in" -> "count",
      s"engine.$r.emitted" -> "count", s"engine.$r.self_s" -> "s")) ++
    Seq("engine.fanout" -> "ratio", "aggregate.fold_s" -> "s") ++
    SparkCounters.metrics(new SparkCounters().snapshot(), 1.0).map { case (n, _, u) => n -> u } ++
    Seq("stream.add_batch_s" -> "s", "stream.planning_s" -> "s",
      "stream.wal_commit_s" -> "s", "stream.commit_offsets_s" -> "s",
      "stream.state_commit_s" -> "s", "stream.state_update_s" -> "s",
      "stream.state_rows" -> "count", "stream.state_rows_updated" -> "count",
      "stream.state_store_instances" -> "count", "stream.output_rows" -> "count")
      .flatMap { case (n, u) => Seq(n -> u, s"$n.initial" -> u) }

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, scratch: String)

  def main(argv: Array[String]): Unit = {
    val opts = parse(argv)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, opts.scratch)
    val sessionS = since(t0)
    val dataDir = s"${opts.work}/data/sf$Sf"
    val tinyDir = s"${opts.work}/data/sf0.001"
    Data.ensure(spark, dataDir, Sf)
    Data.ensure(spark, tinyDir, 0.001)

    val plain = new Pass(spark, opts, dataDir, tinyDir, sessionS, None)
    val a = plain.run(warm = true)
    val out: Result =
      if (!opts.trace) a
      else {
        val traced = new Pass(spark, opts, dataDir, tinyDir, sessionS, Some(new SparkCounters))
        val b = traced.run(warm = false)
        val overhead = b.primary / a.primary
        val speedup =
          if (opts.workload != "q10_replay") 0.0
          else {
            spark.stop()
            val one = session(1, opts.scratch)
            try new Pass(one, opts, dataDir, tinyDir, 0.0, None).singleCoreView() / a.primary
            finally one.stop()
          }
        b.copy(attempted = a.attempted + b.attempted, failed = a.failed + b.failed,
          metrics = b.layers ++ Seq(
            Metric("trace.overhead", overhead, "ratio"),
            Metric("spark.parallel_speedup", speedup, "ratio")),
          notes = a.notes ++ b.notes :+ f"trace.overhead $overhead%.3f over ${a.primaryName}")
      }
    report(opts, out, cores)
    SparkSession.getActiveSession.foreach(_.stop())
    if (out.failed > 0) sys.exit(1)
  }

  final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric],
      layers: Seq[Metric], primary: Double, primaryName: String, notes: Seq[String])

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w'; one of ${Workloads.mkString(", ")}")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Opts(w, need("seed").toLong, seconds, trace == "1", need("work"), need("scratch"))
  }

  private def session(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("q10bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/tmp")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.math.BigDecimal.valueOf(v).toPlainString
  }

  private def report(opts: Opts, r: Result, cores: Int): Unit = {
    println(s"q10bench workload=${opts.workload} seed=${opts.seed} seconds=${opts.seconds} " +
      s"trace=${if (opts.trace) 1 else 0} local[$cores] sf$Sf")
    r.notes.foreach(n => println(s"  $n"))
    r.metrics.foreach { m =>
      val of = if (m.samples.isEmpty) ""
        else s" (median of ${m.samples.size}: ${m.samples.map(x => f"$x%.3f").mkString(" ")})"
      println(f"  ${m.name}%-36s ${num(m.value)} ${m.unit}$of")
    }
    println(f"  error_rate ${if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted}%.6f" +
      s" (${r.failed} failed of ${r.attempted} operations)")
    if (r.failed > 0)
      System.err.println(s"q10bench: ${r.failed} of ${r.attempted} operations FAILED")
    val ms = r.metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
  }
}

/** One measured pass of a workload in `spark`. With `counters` set it is
  * the traced pass: spans around every layer call, a SparkListener, and
  * the extra per-layer passes (table loads, engine stage prefixes,
  * aggregate fold). */
final class Pass(spark: SparkSession, opts: Main.Opts, dir: String, tinyDir: String,
                 sessionS: Double, counters: Option[SparkCounters]) {
  import Main.{Metric, Result, median, since}

  private val traced = counters.isDefined
  private val tr = new Tracer(traced, s"${opts.workload}-${opts.seed}")
  private val layers = mutable.LinkedHashMap[String, Metric]()
  private val notes = mutable.ArrayBuffer[String]()
  private def layer(name: String, v: Double, unit: String): Unit =
    layers(name) = Metric(name, v, unit)

  counters.foreach(spark.sparkContext.addSparkListener)

  private def drain(): Unit = Q10BenchBus.drain(spark.sparkContext)

  /** `body`'s result and wall time; in the traced pass also its Spark
    * totals, appended to `sink`. */
  private def counted[T](sink: mutable.Buffer[Seq[Metric]])(body: => T): (T, Double) = {
    counters.foreach { _ => drain() }
    val before = counters.map(_.snapshot())
    val t = System.nanoTime()
    val r = body
    val wall = since(t)
    counters.foreach { c =>
      drain()
      sink += SparkCounters.metrics(c.snapshot() - before.get, wall)
        .map { case (n, v, u) => Metric(n, v, u) }
    }
    (r, wall)
  }

  private def medianLayers(samples: Seq[Seq[Metric]]): Unit =
    if (samples.nonEmpty) samples.head.indices.foreach { i =>
      val m = samples.head(i)
      layer(m.name, median(samples.map(_(i).value)), m.unit)
    }

  private def compile(ss: SparkSession, d: String): SqlCompiler.Compiled =
    tr("compiler.compile")(SqlCompiler.compile(ss, d, Q10.statement))

  private var warmS = 0.0

  /** `warm = false` skips most of the warm-up, for a second pass in a
    * warm JVM. */
  def run(warm: Boolean): Result = {
    val r = if (opts.workload == "q10_replay") replay(warm) else stream(warm)
    if (traced) {
      layer("compiler.compile_s", median(tr.seconds("compiler.compile")), "s")
      tr.write(s"${opts.work}/trace-${opts.workload}-${opts.seed}.jsonl")
      spark.sparkContext.removeSparkListener(counters.get)
    }
    // a layer the workload does not exercise reads 0
    r.copy(notes = f"session start $sessionS%.3f s, warm-up $warmS%.3f s" +: r.notes,
      layers = Main.PerLayer.map { case (n, u) => layers.getOrElse(n, Metric(n, 0.0, u)) })
  }

  /** `setup_s` = session start + warm-up + the median set-up round. */
  private def setupMetric(rounds: Seq[Double]): Metric =
    Metric("setup_s", sessionS + warmS + median(rounds), "s", rounds)

  /** The stream's own calls on sf0.001, untimed: the first streaming
    * query of a JVM pays ~7 s of one-time costs. */
  private def streamWarmup(): Unit = {
    val ss = spark.newSession()
    val c = SqlCompiler.compile(ss, tinyDir, Q10.statement)
    val sched = streamInputs(ss, c, tinyDir)
    val s = new StreamRun(ss, c, s"${opts.scratch}/ckpt")
    try { s.deliver(sched.initial); s.deliver(sched.update(1)); s.view() }
    finally s.stop()
  }

  // ---- q10_replay ---------------------------------------------------

  private def replay(warm: Boolean): Result = {
    val deletes = Q10.replayDeletes(opts.seed)
    val rounds = (1 to Main.SetupRounds).map { _ =>
      val t = System.nanoTime()
      val ss = spark.newSession()
      val c = compile(ss, dir)
      (since(t), ss, c)
    }
    val (ss, c) = (rounds.last._2, rounds.last._3)
    val expected = Q10.oracle(ss, dir, deletes)
    var failed = 0L
    def check(rows: Seq[Row], what: String): Unit = if (rows != expected) {
      failed += 1
      notes += s"$what differs from the oracle (${rows.size} vs ${expected.size} rows)"
    }
    // warm-up in the measured session, untimed: view builds keep getting
    // faster over the first few calls of a JVM and of a session
    val w0 = System.nanoTime()
    val warmOps = if (warm) Main.ReplayWarmOps else 1
    (1 to warmOps).foreach { i =>
      check(Q10.sorted(c.run(ss, dir, deletes)), s"warm-up view $i")
      c.leafDeltas(ss, dir, deletes).count()
    }
    warmS = since(w0)

    val views = mutable.ArrayBuffer[Double]()
    val loads = mutable.ArrayBuffer[Double]()
    val sparkSamples = mutable.ArrayBuffer[Seq[Metric]]()
    val deadline = System.nanoTime() + opts.seconds * 1000000000L
    while (System.nanoTime() < deadline || views.size < 3 || loads.size < 3) {
      if (views.size <= loads.size) {
        val (rows, wall) = counted(sparkSamples)(tr("view")(Q10.sorted(c.run(ss, dir, deletes))))
        views += wall
        check(rows, s"view ${views.size}")
      } else {
        val t = System.nanoTime()
        tr("leaf_load")(c.leafDeltas(ss, dir, deletes).count())
        loads += since(t)
      }
    }
    medianLayers(sparkSamples.toSeq)
    if (traced) replayLayers(ss, c, deletes)
    val stateMb = DeltaEngine.stateMetrics(c.stages, c.sourceChangelogs(ss, dir, deletes),
      sourceFiltered = true).agg(org.apache.spark.sql.functions.sum("state_bytes"))
      .head().getLong(0) / 1e6
    notes += s"${views.size} view builds, ${loads.size} leaf loads; " +
      "a batch view takes either kind of update by a rebuild"
    val attempted = (2 * warmOps + views.size + loads.size).toLong
    Result(attempted, failed, Seq(
      setupMetric(rounds.map(_._1)),
      Main.timing("view_s", views.toSeq),
      Main.timing("initial_load_s", loads.toSeq),
      Main.timing("leaf_update_p50_s", views.toSeq),
      Main.timing("flip_update_p50_s", views.toSeq),
      Metric("state_mb", stateMb, "MB")),
      Nil, median(views.toSeq), "view_s", notes.toSeq)
  }

  /** Per-layer passes of the replay, outside the timed loop. */
  private def replayLayers(ss: SparkSession, c: SqlCompiler.Compiled,
                           deletes: Map[String, Column]): Unit = {
    tableAndCompilerLayers(c)

    val t1 = System.nanoTime()
    val logs = tr("changelog.build")(c.sourceChangelogs(ss, dir, deletes))
    val own = logs.map { case (rel, ds) => rel -> tr(s"changelog.count.$rel")(ds.count()) }
    layer("changelog.build_s", since(t1), "s")
    own.foreach { case (rel, n) => layer(s"changelog.events.$rel", n.toDouble, "count") }
    val emitted = engineStages(c, logs, own)
    layer("engine.fanout", emitted.toDouble / own.values.sum, "ratio")

    val leaf = c.leafDeltas(ss, dir, deletes).toDF().localCheckpoint()
    layer("aggregate.fold_s",
      median((1 to 3).map { _ =>
        val t2 = System.nanoTime()
        tr("aggregate.fold")(c.aggregate(leaf).collect())
        since(t2)
      }), "s")
  }

  /** Table loads in a fresh session (wall time and the Spark jobs they
    * start) and the compiled tree's size. */
  private def tableAndCompilerLayers(c: SqlCompiler.Compiled): Unit = {
    val jobs = mutable.ArrayBuffer[Seq[Metric]]()
    val fresh = spark.newSession()
    val (_, wall) = counted(jobs)(
      tr("tables.load")(Data.relations.foreach(r => graft.Tables.load(fresh, dir, r))))
    layer("tables.load_s", wall, "s")
    layer("tables.jobs", jobs.head.find(_.name == "spark.jobs").get.value, "count")
    layer("compiler.stages", c.stages.size.toDouble, "count")
  }

  /** Exact per-stage counts and self times, from running the tree's
    * stage prefixes to completion; returns the leaf's emitted count. */
  private def engineStages(c: SqlCompiler.Compiled,
                           logs: Map[String, org.apache.spark.sql.Dataset[Evt]],
                           own: Map[String, Long]): Long = {
    val emitted = mutable.Map[String, Long]()
    var prev = 0.0
    c.stages.indices.foreach { i =>
      val st = c.stages(i)
      val t = System.nanoTime()
      val n = tr(s"engine.prefix.${st.name}")(
        DeltaEngine.runTree(c.stages.take(i + 1), logs, sourceFiltered = true).count())
      val total = since(t)
      emitted(st.name) = n
      val rel = st.spec.relation
      val in = (if (st.ownStage.isEmpty) own.getOrElse(rel, 0L) else 0L) +
        (st.ownStage.toSeq ++ st.parentStage.toSeq ++ st.pairStage.toSeq).map(emitted).sum
      layer(s"engine.$rel.events_in", in.toDouble, "count")
      layer(s"engine.$rel.emitted", n.toDouble, "count")
      layer(s"engine.$rel.self_s", total - prev, "s")
      prev = total
    }
    emitted(c.stages.last.name)
  }

  /** View builds of the replay in this (single-core) session; returns
    * the median `view_s`. */
  def singleCoreView(): Double = {
    val deletes = Q10.replayDeletes(opts.seed)
    val ss = spark.newSession()
    val c = SqlCompiler.compile(ss, dir, Q10.statement)
    c.run(ss, dir, deletes).collect()
    median((1 to 3).map { _ =>
      val t = System.nanoTime()
      c.run(ss, dir, deletes).collect()
      since(t)
    })
  }

  // ---- streams ------------------------------------------------------

  /** The seed's change batches, built from the compiled query's raw
    * changelogs (its scan predicates are applied by `runStream`). */
  private def streamInputs(ss: SparkSession, c: SqlCompiler.Compiled, d: String): Schedule = {
    val logs = tr("changelog.build") {
      c.sourceChangelogs(ss, d, Q10.streamMutable(opts.seed), filtered = false)
        .map { case (rel, ds) => rel -> ds.collect().toSeq }
    }
    val inserts = logs.map { case (rel, es) => rel -> es.filter(_.tag > 0) }
    val marked = logs.map { case (rel, es) => rel -> es.filter(_.tag < 0) }
    Schedule.build(inserts, marked, opts.seed)
  }

  private def stream(warm: Boolean): Result = {
    val w0 = System.nanoTime()
    if (warm) streamWarmup()
    warmS = since(w0)
    val rounds = (1 to Main.SetupRounds).map { _ =>
      val t = System.nanoTime()
      val ss = spark.newSession()
      val c = compile(ss, dir)
      val sched = streamInputs(ss, c, dir)
      (since(t), ss, c, sched)
    }
    val (_, ss, c, sched) = rounds.last

    val s = new StreamRun(ss, c, s"${opts.scratch}/ckpt")
    val sparkInitial = mutable.ArrayBuffer[Seq[Metric]]()
    val updates = mutable.ArrayBuffer[(String, Double)]()
    val sizes = mutable.ArrayBuffer[Long]()
    val views = mutable.ArrayBuffer[Double]()
    var rows: Seq[Row] = Nil
    try {
      val (initialS, _) = counted(sparkInitial)(tr("stream.initial")(s.deliver(sched.initial)))
      sizes += sched.initial.values.map(_.size.toLong).sum
      val t0 = System.nanoTime()
      val first = s.view()
      val firstView = since(t0)
      System.gc()
      var b = 1
      def update(): Double = {
        val batch = sched.update(b)
        val t = tr(s"stream.update.${Schedule.kind(b)}")(s.deliver(batch))
        sizes += batch.values.map(_.size.toLong).sum
        b += 1
        t
      }
      while (b <= Main.Settle) update()
      val deadline = System.nanoTime() + opts.seconds * 1000000000L
      while (System.nanoTime() < deadline || updates.size < Main.MinUpdates)
        updates += Schedule.kind(b) -> update()
      val restore = sched.restore(b - 1)
      tr("stream.restore")(s.deliver(restore))
      sizes += restore.values.map(_.size.toLong).sum
      val progress = s.progress(sizes.toSeq)
      val stateMb = progress.last.last.stateOperators.map(_.memoryUsedBytes).sum / 1e6
      val split = progress.count(_.size > 1)
      if (split > 0) notes += s"$split delivered batches ran as more than one micro-batch"
      s.view()
      (1 to Main.ViewRepeats).foreach { _ =>
        val t = System.nanoTime()
        rows = tr("aggregate.fold")(s.view())
        views += since(t)
      }
      medianLayers(sparkInitial.toSeq)
      if (traced) progressLayers(progress, sizes.toSeq)
      def latency(kind: String) = updates.collect { case (`kind`, t) => t }.toSeq
      val expected = Q10.oracle(ss, dir, Map("lineitem" -> Q10.streamMutable(opts.seed)("lineitem")))
      val attempted = (1 + 1 + (b - 1) + 1 + 1 + views.size).toLong
      // the restore batch returns to the initial state, so the first and
      // the final view have the same answer
      val failed = if (first == expected && rows == expected) 0L else {
        notes += s"stream views differ from the oracle (first ${first.size}, " +
          s"final ${rows.size}, oracle ${expected.size} rows)"
        attempted
      }
      notes += s"${updates.size} timed update batches after ${Main.Settle} untimed, " +
        s"${sizes.head} initial events, ${sizes.tail.init.sum} update events"
      if (traced) {
        layer("aggregate.fold_s", median(views.toSeq), "s")
        streamLayers(ss, c, sched)
      }
      Result(attempted, failed, Seq(
        setupMetric(rounds.map(_._1)),
        Metric("view_s", initialS + firstView, "s", Seq(initialS, firstView)),
        Main.timing("initial_load_s", Seq(initialS)),
        Main.timing("leaf_update_p50_s", latency("leaf")),
        Main.timing("flip_update_p50_s", latency("flip")),
        Metric("state_mb", stateMb, "MB")),
        Nil, median(updates.map(_._2).toSeq), "all update batches", notes.toSeq)
    } finally s.stop()
  }

  /** Per-layer passes of a stream, outside the timed loop: the batch
    * engine's stage prefixes over the initial load. */
  private def streamLayers(ss: SparkSession, c: SqlCompiler.Compiled, sched: Schedule): Unit = {
    import ss.implicits._
    tableAndCompilerLayers(c)
    layer("changelog.build_s",
      median(tr.seconds("changelog.build").takeRight(Main.SetupRounds)), "s")
    sched.initial.foreach { case (rel, es) => layer(s"changelog.events.$rel", es.size.toDouble, "count") }
    val logs = sched.initial.map { case (rel, es) =>
      val ds = ss.createDataset(es)
      rel -> c.eventFilter(ss, rel).fold(ds)(ds.filter).cache()
    }
    val own = logs.map { case (rel, ds) => rel -> ds.count() }
    engineStages(c, logs, own)
    logs.values.foreach(_.unpersist())
  }

  /** Stream per-layer metrics from the micro-batches of each delivered
    * batch (initial, updates, restore) and its event count. Durations
    * and updated rows add up over an update's micro-batches; row and
    * instance totals are read from its last. */
  private def progressLayers(batches: Seq[Seq[StreamingQueryProgress]], sizes: Seq[Long]): Unit = {
    def dur(ps: Seq[StreamingQueryProgress], k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    def state(ps: Seq[StreamingQueryProgress],
              f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      ps.map(_.stateOperators.map(f).sum).sum.toDouble
    def last(ps: Seq[StreamingQueryProgress],
             f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      state(ps.takeRight(1), f)
    val fields: Seq[(String, String, Seq[StreamingQueryProgress] => Double)] = Seq(
      ("stream.add_batch_s", "s", dur(_, "addBatch")),
      ("stream.planning_s", "s", dur(_, "queryPlanning")),
      ("stream.wal_commit_s", "s", dur(_, "walCommit")),
      ("stream.commit_offsets_s", "s", dur(_, "commitOffsets")),
      ("stream.state_commit_s", "s", state(_, _.commitTimeMs) / 1e3),
      ("stream.state_update_s", "s", state(_, _.allUpdatesTimeMs) / 1e3),
      ("stream.state_rows", "count", last(_, _.numRowsTotal)),
      ("stream.state_rows_updated", "count", state(_, _.numRowsUpdated)),
      ("stream.state_store_instances", "count", last(_, _.numStateStoreInstances)),
      ("stream.output_rows", "count", _.map(_.sink.numOutputRows).sum.toDouble))
    val timed = (1 + Main.Settle until batches.size - 1)
    fields.foreach { case (name, unit, f) =>
      layer(name, median(timed.map(i => f(batches(i)))), unit)
      layer(s"$name.initial", f(batches.head), unit)
    }
    // fan-out of the dimension flips, where a parent flip re-emits its
    // buffered children
    layer("engine.fanout", median(timed.filter(i => Schedule.kind(i) == "flip")
      .map(i => batches(i).map(_.sink.numOutputRows).sum.toDouble / sizes(i))), "ratio")
  }
}

/** A running continuous Q10: one MemoryStream per relation feeding
  * `Compiled.runStream`, the leaf deltas appended to a memory sink. */
final class StreamRun(ss: SparkSession, c: SqlCompiler.Compiled, ckptRoot: String) {
  import ss.implicits._
  private implicit val sqlc: org.apache.spark.sql.SQLContext = ss.sqlContext
  private val sources = Data.relations.map(r => r -> MemoryStream[Evt]).toMap
  private val sink = s"q10bench_${StreamRun.next()}"
  private var query: StreamingQuery = _

  /** Hand over one change batch and wait until it is processed; returns
    * the wall time in seconds. The first batch is added before the
    * query starts, so it runs as one micro-batch (a running trigger can
    * fire between two sources' `addData`). */
  def deliver(batch: Map[String, Seq[Evt]]): Double = {
    val t = System.nanoTime()
    batch.foreach { case (rel, es) => if (es.nonEmpty) sources(rel).addData(es) }
    if (query == null)
      query = c.runStream(sources.map { case (r, ms) => r -> ms.toDS() })
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .option("checkpointLocation", s"$ckptRoot/$sink")
        .start()
    query.processAllAvailable()
    Main.since(t)
  }

  /** The maintained view: the compiled aggregate over the sink. */
  def view(): Seq[Row] = Q10.sorted(c.aggregate(ss.table(sink)))

  /** The micro-batches of each delivered batch, matched by input row
    * counts (progress is reported just after a micro-batch ends). */
  def progress(sizes: Seq[Long]): Seq[Seq[StreamingQueryProgress]] = {
    val deadline = System.nanoTime() + 30000000000L
    def done = query.recentProgress.filter(_.numInputRows > 0)
    while (done.map(_.numInputRows).sum < sizes.sum && System.nanoTime() < deadline)
      Thread.sleep(10)
    val it = done.sortBy(_.batchId).iterator
    sizes.map { n =>
      val got = mutable.ArrayBuffer[StreamingQueryProgress]()
      var rows = 0L
      while (rows < n && it.hasNext) { val p = it.next(); got += p; rows += p.numInputRows }
      require(rows == n, s"stream progress does not add up: batch of $n events, $rows rows seen")
      got.toSeq
    }
  }

  def stop(): Unit = if (query != null) query.stop()
}

object StreamRun {
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  def next(): Int = ids.incrementAndGet()
}
