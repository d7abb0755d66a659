package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, Graft, HarnessSession, SparkEntry}

/** One benchmark run in one JVM: set up, measure in a closed loop with a
  * single client thread, and write the run record as JSON for run.py,
  * which checks results and prints the metrics.
  *
  * Arguments (all `--key value`):
  *   - `kind`: `nightly` (the cron chain in this fresh JVM) or `mix` (a
  *     long-lived session over registry rows);
  *   - `data`: the scale-factor directory the run reads;
  *   - `rows`: comma-separated registry rows of a mix;
  *   - `warmups`: untimed passes over a mix's rows before the timed ones;
  *     they pay JIT, codegen and first-touch costs;
  *   - `seed`: permutes each pass's arrival order; `seconds`: the
  *     measured time, in whole passes (a mix runs at least three);
  *   - `trace`: 1 records spans and layer counters; `out`: run-private
  *     output directory; `record`: the JSON file to write;
  *   - `functions`: the directory whose documents and embeddings the
  *     traced run times the engine's SQL functions over.
  */
object Main {
  val Cpus = 4
  /** A mix's median pass is then a middle pass, not the first one after
    * warm-up, which still runs slower while JIT compilation settles.
    */
  val MinPasses = 3
  val Mb = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val kind = opt("kind")
    val trace = opt.getOrElse("trace", "0") == "1"
    val tr = if (trace) Tracer.inMemory() else Tracer.off
    val run = new Run(opt("data"),
      opt.get("rows").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      opt.getOrElse("warmups", "0").toInt,
      opt("seed").toLong, opt("seconds").toDouble, opt("out"), tr, trace)
    val record = kind match {
      case "nightly" => run.nightly()
      case "mix"     => run.mix()
    }
    val extras =
      if (!trace) Map.empty[String, Any]
      else run.tracedExtras(kind, opt.get("functions"))
    Files.writeString(Paths.get(opt("record")),
      Json.render(record ++ extras ++ Map("spans" -> tr.spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end)))))
    run.spark.stop()
  }

  /** One timed operation's outcome: wall seconds, and either the result's
    * (rows, hash) or the error it threw.
    */
  final case class Op(name: String, pass: Int, seconds: Double,
      result: Either[String, Option[FullResult]]) {
    def toMap: Map[String, Any] = Map("name" -> name, "pass" -> pass,
      "s" -> seconds,
      "rows" -> result.toOption.flatten.map(_.rows),
      "hash" -> result.toOption.flatten.map(_.hex),
      "error" -> result.left.toOption)
  }
}

final class Run(dir: String, rows: Seq[String], warmups: Int, seed: Long,
    seconds: Double, out: String, tr: Tracer, trace: Boolean) {
  import Main._

  var spark: SparkSession = _
  private val layer0 = mutable.Map.empty[String, Double]

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Build the session; returns seconds since process start, so JVM start
    * is included.
    */
  private def session(): Double = {
    spark = tr("session")(HarnessSession.build(Cpus))
    (System.currentTimeMillis() - Jvm.startMs) / 1e3
  }

  /** Build a registry row's frame and drain its full result, releasing the
    * caches the row took. Throws what the row throws.
    */
  private def fullResult(name: String, d: String): FullResult =
    Caches.scope(spark) {
      val jobs0 = Counters.get("dispatch.jobs")
      val b0 = System.nanoTime()
      val df = tr("build")(SparkEntry.queries(name)(spark, d))
      if (trace) {
        drain()
        Counters.add("operators.build_s", secondsSince(b0))
        Counters.add("operators.eager_jobs",
          Counters.get("dispatch.jobs") - jobs0)
      }
      val r = tr("execute")(FullResult.of(df))
      if (trace) planning(df)
      r
    }

  /** Planning of the drained frame itself: draining goes through
    * `toRdd`, not a Dataset action, so no QueryExecutionListener sees it.
    */
  private def planning(df: DataFrame): Unit = {
    val tracker = df.queryExecution.tracker
    Planning.add(tracker)
    tracker.phases.foreach { case (p, s) =>
      tr.child(s"planning.$p", s.startTimeMs, s.endTimeMs)
    }
  }

  private def drain(): Unit = org.apache.spark.ListenerDrain(spark.sparkContext)

  /** Time one operation. In the traced run the wall interval's idle time
    * (no task running) and the persisted RDDs left after the scope closed
    * are added to the layer counters.
    */
  private def timed(name: String, pass: Int)(
      body: => Option[FullResult]): Main.Op = tr(s"op.$name") {
    if (trace) { drain(); Counters.clearIntervals() }
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try Right(body)
      catch { case e: Throwable => Left(e.toString.take(500)) }
    val dt = secondsSince(t0)
    if (trace) {
      val w1 = System.currentTimeMillis()
      drain()
      Counters.add("dispatch.idle_s", Counters.idleMs(w0, w1) / 1e3)
      Counters.add("caches.blocks_left",
        spark.sparkContext.getPersistentRDDs.size)
      Counters.add("wall_s", dt)
    }
    spark.catalog.clearCache()
    Main.Op(name, pass, dt, r)
  }

  private def jvmLayers(): Map[String, Double] = Map(
    "codegen.compiles" -> Jvm.codegenCompiles,
    "codegen.compile_s" -> Jvm.codegenSeconds,
    "jvm.jit_cpu_s" -> Jvm.jitSeconds,
    "jvm.gc_s" -> Jvm.gcSeconds)

  /** A long-lived session over registry rows: `warmups` passes over the
    * rows, then whole passes, each in a seeded arrival order, until
    * `seconds` have been measured and at least [[Main.MinPasses]] passes
    * run.
    */
  def mix(): Map[String, Any] = {
    val unknown = rows.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(",")}")
    val started = session()
    val w0 = System.nanoTime()
    tr("warmup")((1 to warmups).foreach(_ => rows.foreach { n =>
      try fullResult(n, dir) catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }))
    val warmup = secondsSince(w0)
    if (trace) { drain(); layer0 ++= Counters.snapshot() ++ jvmLayers() }
    val rng = new scala.util.Random(seed)
    val ops = mutable.ArrayBuffer.empty[Main.Op]
    val passes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passes.size < MinPasses || secondsSince(t0) < seconds) {
      val p0 = System.nanoTime()
      val order = rng.shuffle(rows)
      tr(s"pass.${passes.size}") {
        order.foreach(n =>
          ops += timed(n, passes.size)(Some(fullResult(n, dir))))
      }
      passes += secondsSince(p0)
    }
    Map("setup_s" -> (started + warmup), "passes" -> passes,
      "ops" -> ops.map(_.toMap),
      "peak_rss_mb" -> Jvm.peakRssMb) ++ layers()
  }

  /** The cron chain in this fresh JVM, which pays JIT and codegen cold as
    * cron does: `runEtl`, then `runCorpusEtl` with the serve roots empty
    * (they live under the run's private java.io.tmpdir), then
    * `runCorpusEtl` again reusing them. Each step's staged tables are read
    * back and hashed after the step's timer stops.
    */
  def nightly(): Map[String, Any] = {
    val started = session()
    if (trace) { drain(); layer0 ++= Counters.snapshot() ++ jvmLayers() }
    val etlTables = Seq("fact_loan", "dim_calendar",
      "analytics_accounting_report")
    val corpusTables = Seq("corpus_curated", "dedup_canonicals",
      "split_leakage", "lsh_recall_audit", "part_pagerank")
    def staged(sub: String, tables: Seq[String]): Seq[Map[String, Any]] =
      tables.map { t =>
        val r = FullResult.of(spark.read.parquet(s"$out/$sub/$t.parquet"))
        Map("table" -> t, "rows" -> r.rows, "hash" -> r.hex)
      }
    def step(name: String, sub: String, tables: Seq[String])(
        body: => Unit): (Main.Op, Seq[Map[String, Any]]) = {
      val op = timed(name, 0) { Caches.scope(spark)(body); None }
      val checks =
        if (op.result.isLeft) Nil
        else try staged(sub, tables)
        catch { case e: Throwable => Seq(Map("table" -> "*", "error" ->
          e.toString.take(500))) }
      (op, checks)
    }
    val steps = Seq(
      step("etl", "etl", etlTables) {
        Graft.runEtl(spark, dir, s"$out/etl").collect()
      },
      step("corpus_cold", "corpus", corpusTables) {
        if (trace) prepareServe()
        Graft.runCorpusEtl(spark, dir, s"$out/corpus").collect()
      },
      step("corpus_warm", "corpus", corpusTables) {
        Graft.runCorpusEtl(spark, dir, s"$out/corpus").collect()
      })
    val stored = Seq(out, serveRoots, sys.props("spark.sql.warehouse.dir"))
      .map(p => du(new File(p))).sum
    val input = new File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(du).sum
    Map("setup_s" -> started,
      "passes" -> Seq(steps.map(_._1.seconds).sum),
      "ops" -> steps.map { case (op, checks) =>
        op.toMap ++ Map("checks" -> checks) },
      "peak_rss_mb" -> Jvm.peakRssMb) ++
      layers(Map(
        "nightly.etl_s" -> steps(0)._1.seconds,
        "nightly.corpus_cold_s" -> steps(1)._1.seconds,
        "nightly.corpus_warm_s" -> steps(2)._1.seconds,
        "sinks.stored_per_input" -> stored.toDouble / input,
        "sinks.files" -> files(new File(out)).toDouble,
        "serve.artifact_mb" -> du(new File(serveRoots)) / Mb))
  }

  /** The serve tier's three artifact builders, timed as their own spans in
    * the traced run; `runCorpusEtl` then finds their artifacts ready.
    */
  private def prepareServe(): Unit = {
    val t0 = System.nanoTime()
    tr("serve.audit")(graft.operators.AuditServe.prepare(spark, dir))
    tr("serve.similarity")(
      graft.operators.SimilarityQueries.prepareServe(spark, dir))
    tr("serve.graph")(graft.operators.GraphServe.prepare(spark, dir))
    Counters.add("serve.prepare_s", secondsSince(t0))
  }

  /** Where the serve tier keeps its artifacts: under java.io.tmpdir, which
    * run.py makes private to the run.
    */
  private def serveRoots: String = sys.props("java.io.tmpdir") + "/graft_serve"

  private def du(f: File): Long =
    if (!f.exists) 0L
    else if (f.isDirectory) f.listFiles().map(du).sum
    else f.length

  private def files(f: File): Long =
    if (!f.exists) 0L
    else if (f.isDirectory) f.listFiles().map(files).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else 1L

  /** Layer counters accumulated since the end of set-up (traced run only). */
  private def layers(extra: Map[String, Double] = Map.empty)
      : Map[String, Any] = {
    if (!trace) return Map.empty
    drain()
    val now = Counters.snapshot() ++ jvmLayers()
    val delta = now.map { case (k, v) =>
      k -> (if (Counters.isMax(k)) v else v - layer0.getOrElse(k, 0.0))
    }
    val wall = delta.getOrElse("wall_s", 0.0)
    Map("layers" -> (delta - "wall_s" ++ extra ++ Map(
      "exec.core_util" ->
        (if (wall > 0) delta.getOrElse("exec.task_run_s", 0.0) / (Cpus * wall)
         else 0.0))))
  }

  /** After the measured passes of a traced run: the `count()` pruning
    * record of the mix rows and the engine's SQL functions timed on their
    * own.
    */
  def tracedExtras(kind: String, functionsDir: Option[String])
      : Map[String, Any] = {
    val pruning = if (kind == "mix") Pruning.record(spark, rows, dir)
      else Nil
    val fns = functionsDir.map(d => tr("functions")(Functions.time(spark, d)))
      .getOrElse(Map.empty)
    Map("pruning" -> pruning, "functions" -> fns)
  }
}
