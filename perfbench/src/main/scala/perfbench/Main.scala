package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl.{Pipeline, RunPipeline}
import graft.io.{Readers, Writers, Xlsx}
import graft.profile.Quality
import graft.queries.{DedupQ, GraphQ}

/** One benchmark run: one workload, one closed-loop client, one JVM.
  *
  * Set-up (session, shared stages, one untimed check pass that also warms
  * the JIT), then the timed passes that fill `--seconds`. Each pass
  * runs the workload's operations one after another. With `--trace 1`,
  * some passes are traced: they record spans
  * around every call into the program. The raw samples go to `--out` as
  * JSON; `run.py` turns them into metrics and checks the outputs.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --inputs DIR --work DIR --out FILE --t0-ms EPOCH_MS --cores N
  *   --source-rows N
  */
object Main {

  /** The registry queries of each registry workload, and the shared stages
    * their set-up builds. `registry_iterative` also runs three `dedup_*`
    * queries, so that the workloads a comparison runs reach the MinHash,
    * SimHash, hash-array and sorted-intersect expressions and `graft.ext`. */
  val registryQueries: Map[String, Seq[String]] = Map(
    "registry_iterative" -> Seq("graph_connected_components",
      "graph_pagerank_copurchase", "graph_kcore", "graph_label_propagation",
      "dedup_minhash_signatures", "dedup_simhash", "dedup_containment_pairs"),
    "registry_windows" -> Seq("stat_spearman_rho", "profile_ks_test",
      "events_peak_concurrency", "customer_rfm_segments"),
    "registry_corpus" -> Seq("dedup_minhash_signatures", "dedup_simhash",
      "dedup_containment_pairs", "dedup_substring_spans",
      "dedup_exact_groups", "dedup_minhash_lsh"))

  /** Wall time of one warm pass on 4 cores at the commit that defined the
    * benchmark; it only sets how many passes fit in `--seconds`. */
  val nominalPassSeconds: Map[String, Double] = Map(
    "etl_pipeline" -> 10.0, "registry_iterative" -> 9.0,
    "registry_windows" -> 7.0, "registry_corpus" -> 5.2)

  val sharedStages: Map[String, Seq[(String, (SparkSession, String) => Unit)]] = Map(
    "registry_iterative" -> Seq(
      "GraphQ.buildSharedEdgeStage" -> ((s, d) => GraphQ.buildSharedEdgeStage(s, d)),
      "GraphQ.buildSharedLpaStage" -> ((s, d) => GraphQ.buildSharedLpaStage(s, d))),
    "registry_corpus" -> Seq(
      "DedupQ.buildSharedPairStage" -> ((s, d) => DedupQ.buildSharedPairStage(s, d))))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(workload == "etl_pipeline" || registryQueries.contains(workload),
      s"unknown workload $workload")
    val run = new Run(workload, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("inputs"), a("work"), a("t0-ms").toLong,
      a("cores").toInt, a("source-rows").toLong)
    val json = run.execute()
    Files.write(Paths.get(a("out")), json.getBytes(StandardCharsets.UTF_8))
  }
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
                inputs: String, work: String, t0Ms: Long, cores: Int,
                sourceRows: Long) {

  private val rec = new Recorder

  /** Timed passes per run: `--seconds` divided by the workload's nominal
    * pass time, rounded. The count depends on the flag only, never on how
    * fast this tree runs, so two trees compared at one `--seconds` do the
    * same work. */
  private val passCount =
    math.max(1, math.round(seconds / Main.nominalPassSeconds(workload)).toInt)
  private var cleanCounter: Internals.CleanCounter = _
  private val isEtl = workload == "etl_pipeline"

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private var attachedTo: Option[org.apache.spark.SparkContext] = None
  private def activeSession(): SparkSession = {
    val s = session()
    if (!attachedTo.contains(s.sparkContext)) {
      rec.attach(s.sparkContext)
      cleanCounter = Internals.attachCleanCounter(s.sparkContext)
      attachedTo = Some(s.sparkContext)
    }
    s
  }

  // ---- operations --------------------------------------------------------

  private val contactsCsv = s"$inputs/contacts.csv"
  private val contratsCsv = s"$inputs/contrats.csv"
  private val relationsXlsx = s"$inputs/relations.xlsx"
  private val holderKey = Seq("nom", "prenom", "date de naissance")

  /** `data_analysis.py`'s audits through `Quality`; returns every number
    * they produce, in a fixed order, for the oracle to check. */
  private def profile(spark: SparkSession): Seq[Long] = {
    def read(path: String) =
      rec.span("io.csv_read", "Readers.csvInferred", "action")(
        Readers.csvInferred(spark, path))
    val contacts = read(contactsCsv)
    val contracts = read(contratsCsv)
    val audits: Seq[(String, () => DataFrame)] = Seq(
      "nullCounts(contacts)" -> (() => Quality.nullCounts(contacts)),
      "nullCounts(contrats)" -> (() => Quality.nullCounts(contracts)),
      "duplicateRowsKeepFalse(contacts)" ->
        (() => Quality.duplicateRowsKeepFalse(contacts, holderKey)),
      "duplicateRowsKeepFirst(contacts)" ->
        (() => Quality.duplicateRowsKeepFirst(contacts, holderKey)),
      "duplicateRowsKeepFalse(contrats)" ->
        (() => Quality.duplicateRowsKeepFalse(contracts, holderKey)),
      "duplicateRowsKeepFirst(contrats)" ->
        (() => Quality.duplicateRowsKeepFirst(contracts, holderKey)),
      "semiJoinCount(contacts, contrats)" ->
        (() => Quality.semiJoinCount(contacts, contracts, holderKey)))
    audits.flatMap { case (name, build) =>
      val df = rec.span("profile", name, "build")(build())
      if (rec.active) rec.span("plan", name, "plan")(df.queryExecution.executedPlan)
      rec.span("profile", s"$name.head", "action")(df.head())
        .toSeq.map(_.asInstanceOf[Long])
    }
  }

  /** `RunPipeline.main` on the generated files. Traced passes make the same
    * public calls in the same order, each inside its own span. */
  private def load(spark: SparkSession, outDir: String): Unit =
    if (!rec.active)
      RunPipeline.main(Array(contactsCsv, contratsCsv, relationsXlsx, outDir))
    else {
      val relations = rec.span("io.xlsx_read", "Xlsx.read", "action")(
        Xlsx.read(spark, relationsXlsx))
      def read(path: String) =
        rec.span("io.csv_read", "Readers.csvInferred", "action")(
          Readers.csvInferred(spark, path))
      val contacts = read(contactsCsv)
      val contracts = read(contratsCsv)
      val out = rec.span("etl.pipeline_build", "Pipeline.run", "build")(
        Pipeline.run(contacts, contracts, relations))
      Seq((out.entities, Seq("entity_id"), "entities"),
          (out.contacts, Seq("entity_id"), "contacts"),
          (out.contracts, Seq("contract_number"), "contracts")).foreach {
        case (df, keys, table) =>
          rec.span("etl.pk_audit", s"Writers.assertPrimaryKey($table)", "action")(
            Writers.assertPrimaryKey(df, keys, table))
      }
      Seq(out.entities -> "entities", out.contacts -> "contacts",
          out.contracts -> "contracts", out.relations -> "relations").foreach {
        case (df, table) =>
          rec.span("plan", s"executedPlan($table)", "plan")(df.queryExecution.executedPlan)
          rec.span("io.parquet_write", s"Writers.parquet($table)", "action")(
            Writers.parquet(df, s"$outDir/$table"))
      }
      rec.span("session", "SparkSession.stop", "action")(spark.stop())
    }

  /** One registry operation: the query's `fn` plus its noop write. */
  private def query(spark: SparkSession, name: String): Unit = {
    val df = rec.span("queries", name, "build")(SparkEntry.queries(name)(spark, inputs))
    if (rec.active) rec.span("plan", name, "plan")(df.queryExecution.executedPlan)
    rec.span("action", name, "action")(
      df.write.format("noop").mode("overwrite").save())
  }

  // ---- the run -----------------------------------------------------------

  private final case class Op(name: String, seconds: Double, ok: Boolean)
  private final case class Pass(index: Int, traced: Boolean, seconds: Double,
                                peakMb: Double, retainedMb: Double, ops: Seq[Op])

  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0

  private def attempt(name: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch { case e: Throwable =>
      failed += 1
      errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      false
    }
  }

  private val order: Seq[String] =
    if (isEtl) Seq("profile", "load")
    else new scala.util.Random(seed).shuffle(Main.registryQueries(workload))

  private val profiles = mutable.ArrayBuffer.empty[Seq[Long]]
  private val loadDirs = mutable.ArrayBuffer.empty[String]

  /** Runs every operation once, outside the timed window, and keeps what
    * the oracle needs: registry results as parquet, ETL results as the
    * profile numbers plus the written tables. */
  private def checkPass(): Unit =
    if (isEtl) etlPass(activeSession(), 0)
    else {
      val spark = activeSession()
      order.foreach { q =>
        attempt(s"check $q") {
          SparkEntry.queries(q)(spark, inputs).write
            .mode("overwrite").parquet(s"$work/check/$q")
        }
      }
    }

  private def etlPass(spark: SparkSession, index: Int): Seq[Op] = {
    val outDir = s"$work/load/pass_$index"
    order.map { name =>
      val t0 = System.nanoTime()
      val ok = rec.span("op", name, "op") {
        attempt(name) {
          if (name == "profile") profiles += profile(spark)
          else { load(spark, outDir); loadDirs += outDir }
        }
      }
      Op(name, (System.nanoTime() - t0) / 1e9, ok)
    }
  }

  private def registryPass(spark: SparkSession): Seq[Op] =
    order.map { q =>
      val t0 = System.nanoTime()
      val ok = rec.span("op", q, "op")(attempt(q)(query(spark, q)))
      Op(q, (System.nanoTime() - t0) / 1e9, ok)
    }

  private def sc = attachedTo.get

  def execute(): String = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionStartMs = System.currentTimeMillis()
    val spark = activeSession()
    val sessionReadyMs = System.currentTimeMillis()
    val stageSeconds = Main.sharedStages.getOrElse(workload, Nil).map { case (name, build) =>
      val t0 = System.nanoTime()
      build(spark, inputs)
      name -> (System.nanoTime() - t0) / 1e9
    }
    rec.pass = -1
    val checkStartMs = System.currentTimeMillis()
    checkPass()
    if (!isEtl) Internals.collectAndDrain(sc, cleanCounter)

    val firstPassMs = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer.empty[Pass]
    // Traced runs order their passes untraced, traced, traced, untraced
    // (repeating), so warm-up drift cancels out of the tracing overhead.
    val count = if (trace) math.max(4, passCount) else passCount
    for (i <- 1 to count) {
      val tracedPass = trace && (i % 4 == 2 || i % 4 == 3)
      rec.active = tracedPass
      rec.pass = i
      // `RunPipeline.main` stops the session, so each ETL pass starts a new
      // one here, before the pass is timed.
      val session = activeSession()
      rec.resetPeak()
      val t0 = System.nanoTime()
      val ops = if (isEtl) etlPass(session, i) else registryPass(session)
      val wall = (System.nanoTime() - t0) / 1e9
      val (peak, retained) =
        if (isEtl) (rec.peakMb, 0.0)
        else {
          Internals.drainListenerBus(sc)
          val p = rec.peakMb
          Internals.collectAndDrain(sc, cleanCounter)
          (p, rec.storageMb)
        }
      passes += Pass(i, tracedPass, wall, peak, retained, ops)
    }
    rec.active = false
    if (!isEtl) spark.stop()
    else SparkSession.getActiveSession.foreach(_.stop())

    val phases = Seq(
      "launch_to_jvm" -> (jvmStartMs - t0Ms) / 1e3,
      "jvm_to_main" -> (sessionStartMs - jvmStartMs) / 1e3,
      "session" -> (sessionReadyMs - sessionStartMs) / 1e3,
      "shared_stages" -> stageSeconds.map(_._2).sum,
      "check_pass" -> (firstPassMs - checkStartMs) / 1e3)
    report(firstPassMs, phases, stageSeconds, passes.toSeq)
  }

  // ---- output ------------------------------------------------------------

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val MB = 1048576.0

  /** Per-layer numbers of one traced pass, from its spans and the scheduler
    * totals attributed to them. */
  private def layerMetrics(p: Pass): Map[String, Double] = {
    val ss = rec.spans.filter(_.pass == p.index)
    val self = selfSeconds(ss)
    val calls = ss.filter(s => s.layer != "op")
    def selfOf(f: Span => Boolean) = calls.filter(f).map(self).sum
    def sum(f: Span => Boolean)(g: Totals => Long): Double =
      ss.filter(f).map(s => g(rec.totalsOf(s.id)).toDouble).sum
    val all = (_: Span) => true
    val runS = sum(all)(_.runMs) / 1000
    val cpuNs = sum(all)(_.cpuNs)
    val rows = sum(all)(_.recordsRead)
    def pct(layer: String) = 100 * selfOf(_.layer == layer) / p.seconds
    Map(
      "queries.build_s" -> selfOf(_.kind == "build"),
      "queries.build_jobs" -> sum(_.kind == "build")(_.jobs),
      "queries.checkpoint_mb" -> sum(_.kind == "build")(_.blockBytesWritten) / MB,
      "queries.retained_mb" -> p.retainedMb,
      "plan.s" -> selfOf(_.kind == "plan"),
      "sched.jobs" -> sum(all)(_.jobs),
      "sched.stages" -> sum(all)(_.stages),
      "sched.tasks" -> sum(all)(_.tasks),
      "sched.idle_core_s" -> calls.filter(_.kind == "action").map(s =>
        cores * s.seconds - rec.totalsOf(s.id).runMs / 1000.0).sum,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> cpuNs / 1e9,
      "exec.gc_s" -> sum(all)(_.gcMs) / 1000,
      "exec.core_util" -> runS / (cores * p.seconds),
      "exec.cpu_ns_per_row" -> cpuNs / math.max(1.0, rows),
      "shuffle.write_mb" -> sum(all)(_.shuffleWrite) / MB,
      "shuffle.read_mb" -> sum(all)(_.shuffleRead) / MB,
      "shuffle.spill_mb" -> sum(all)(_.spill) / MB,
      "io.write_mb" -> sum(all)(_.bytesWritten) / MB,
      "io.scan_rows" -> rows,
      "io.scan_ratio" -> rows / sourceRows.toDouble,
      "io.csv_read_pct" -> pct("io.csv_read"),
      "io.xlsx_read_pct" -> pct("io.xlsx_read"),
      "io.parquet_write_pct" -> pct("io.parquet_write"),
      "etl.pipeline_build_pct" -> pct("etl.pipeline_build"),
      "etl.pk_audit_pct" -> pct("etl.pk_audit"),
      "etl.pk_audit_jobs" -> sum(_.layer == "etl.pk_audit")(_.jobs),
      "profile.pct" -> pct("profile"),
      "profile.jobs" -> sum(_.layer == "profile")(_.jobs))
  }

  /** A span's self time: its duration minus the part its children cover. */
  private def selfSeconds(ss: Seq[Span]): Span => Double = {
    val children = ss.groupBy(_.parent)
    s => s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
  }

  /** Self time per layer of one traced pass; "pass" is the time outside
    * every operation. */
  private def layerSelf(p: Pass): Map[String, Double] = {
    val ss = rec.spans.filter(_.pass == p.index)
    val self = selfSeconds(ss)
    ss.groupBy(_.layer).map { case (layer, xs) => layer -> xs.map(self).sum } +
      ("pass" -> (p.seconds - ss.filter(_.parent == 0).map(_.seconds).sum))
  }

  private def report(firstPassMs: Long, phases: Seq[(String, Double)],
                     stages: Seq[(String, Double)],
                     passes: Seq[Pass]): String = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    def medianOf(ms: Seq[Map[String, Double]]): Map[String, Double] =
      if (ms.isEmpty) Map.empty
      else ms.head.keys.map(k => k -> median(ms.map(_(k)))).toMap
    val layer = medianOf(traced.map(layerMetrics))
    val self = medianOf(traced.map(layerSelf)).toSeq.sortBy(_._1)
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) Double.NaN
      else median(traced.map(_.seconds)) - median(untraced.map(_.seconds))
    val spanJson = rec.spans.map(s => obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "pass" -> s.pass.toString,
      "layer" -> str(s.layer), "name" -> str(s.name), "kind" -> str(s.kind),
      "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)))
    obj(Seq(
      "workload" -> str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "trace" -> trace.toString,
      "order" -> arr(order.map(str)),
      "t0_ms" -> t0Ms.toString,
      "first_pass_ms" -> firstPassMs.toString,
      "setup_phases_s" -> obj(phases.map { case (k, v) => k -> num(v) }),
      "shared_stages_s" -> obj(stages.map { case (k, v) => k -> num(v) }),
      "passes" -> arr(passes.map(p => obj(Seq(
        "index" -> p.index.toString, "traced" -> p.traced.toString,
        "seconds" -> num(p.seconds), "peak_mb" -> num(p.peakMb),
        "retained_mb" -> num(p.retainedMb),
        "ops" -> arr(p.ops.map(o => obj(Seq("name" -> str(o.name),
          "seconds" -> num(o.seconds), "ok" -> o.ok.toString)))))))),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> arr(errors.toSeq.map(str)),
      "profiles" -> arr(profiles.toSeq.map(p => arr(p.map(_.toString)))),
      "load_dirs" -> arr(loadDirs.toSeq.map(str)),
      "oracle_sql" -> obj(if (isEtl) Nil else order.flatMap(q =>
        SparkEntry.oracleSql.get(q).map(sql => q -> str(sql)))),
      "per_layer" -> obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "trace_overhead_s" -> num(overhead),
      "layer_self_s" -> obj(self.map { case (k, v) => k -> num(v) }),
      "spans" -> arr(spanJson)))
  }
}
