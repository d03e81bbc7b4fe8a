package org.apache.spark.perfbench

import graft.{GraftSession, SparkEntry}
import graft.core.Violations
import graft.global.{Referential, Uniqueness}
import graft.pipeline.{Dedup, Packing}
import graft.sources.TokenGen
import graft.stats.{ColumnStats, Drift}
import graft.table.SnapshotStore
import graft.tools.{AuditCli, TokenPipelineSteps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One operation as issued: its pass (0 = warm-up), wall time of the call
  * into the engine, and the error if it threw or its result was wrong. */
final case class OpRecord(pass: Int, name: String, wallS: Double, var error: Option[String])

/** Closed-loop, single-client operation runner: the next operation starts
  * only after the previous one and its check have finished. */
final class Ops(tracer: Tracer, inject: Set[String]) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  var pass = 0
  private var injected = Set.empty[String]

  /** Times `work` alone; `check` then inspects the result and returns a
    * message if it is wrong. None when the operation failed either way. */
  def apply[T](name: String, span: String = "")(work: => T)(check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val res =
      try Right(tracer.op(if (span.isEmpty) name else span) {
        if (once("fail")) throw new IllegalStateException("injected failure")
        work
      })
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    val err = res.fold(Some(_), r =>
      try check(r) catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") })
    records += OpRecord(pass, name, wall, err)
    res.toOption.filter(_ => err.isEmpty)
  }

  /** Records the operations a pass did not reach after an earlier failure. */
  def skipped(names: Seq[String]): Unit = {
    val done = records.filter(_.pass == pass).map(_.name).toSet
    names.filterNot(done).foreach(n => records += OpRecord(pass, n, 0.0, Some("skipped after an earlier failure")))
  }

  /** Self-check hook: returns a wrong count once, which its check must catch. */
  def tamper(n: Long): Long = if (once("wrong")) n + 1 else n

  private def once(kind: String): Boolean =
    pass > 0 && inject(kind) && !injected(kind) && { injected += kind; true }
}

object Check {
  def equal[T](what: String, want: T, got: T): Option[String] =
    if (want == got) None else Some(s"$what: expected $want, got $got")
}

/** A workload: inputs to open, then passes of operations. */
trait Workload {
  def rows: Long
  def open(): Unit
  /** Untimed work after opening that belongs to set-up. */
  def warmUp(ops: Ops, tr: Tracer): Unit = ()
  def pass(ops: Ops, tr: Tracer): Unit
  /** Per-layer counts the workload keeps itself; each pass finds the same. */
  def counters: Map[String, Double] = Map.empty
}

/** The flagship audit: validate + uniqueness + referential + profile + drift
  * over a warm session and a materialised multi-file table. */
final class Audit(spark: SparkSession, data: String, shape: Inputs.Shape, lo: Long, hi: Long) extends Workload {
  private val model = new Inputs.Model(shape, lo, hi)
  private val pack = AuditCli.tokenRulePack(maxLen = 8192)
  private var facts: DataFrame = _
  private var dim: DataFrame = _
  private var violations = 0L
  def rows: Long = model.rows

  def open(): Unit = {
    facts = spark.read.parquet(data)
    dim = TokenGen.allowedSources(spark)
  }

  /** Passes until `Audit.WarmUpS` have gone by: the first pass compiles and
    * loads, and pass time then keeps falling for about 25 s more before it
    * levels off (perfbench/BASELINE.md). */
  override def warmUp(ops: Ops, tr: Tracer): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < 2 || Harness.since(t0) < Audit.WarmUpS) { pass(ops, tr); n += 1 }
  }

  def pass(ops: Ops, tr: Tracer): Unit = {
    ops("core.validate") {
      val v = tr.span("core.compile")(Violations.validate(facts, pack, Seq("doc_id")))
      tr.span("core.count")(Violations.ruleCounts(v).collect())
        .groupMapReduce(_.getAs[String]("rule_id"))(_.getAs[Long]("n_violations"))(_ + _)
    } { got => violations = got.values.sum; Check.equal("violations per rule", model.ruleCounts, got) }

    ops("global.uniqueness")(ops.tamper(Uniqueness.duplicateKeysHashed(facts, Seq("doc_id")).count()))(
      Check.equal("duplicate doc_id keys", model.duplicateKeys, _))

    ops("global.referential")(Referential.violations(facts, "source", dim, "source").count())(
      Check.equal("unregistered sources", model.unregistered, _))

    ops("stats.profile")(ColumnStats.profile(facts, Seq("doc_id", "n_tok", "source")).collect()) { got =>
      val byCol = got.map(r => r.getAs[String]("column") -> r).toMap
      Check.equal("profiled rows", Seq(rows, rows, rows), Seq("doc_id", "n_tok", "source").map(byCol(_).getAs[Long]("n_rows")))
        .orElse(Check.equal("null sources", model.nullSources, byCol("source").getAs[Long]("n_null")))
    }

    ops("stats.drift") {
      val mid = f"doc-${lo + rows / 2}%012d"
      def hist(half: DataFrame) = Drift.histogramOnePass(half, "n_tok", 0, shape.maxLen.toDouble, 32)
      Drift.psiRule(hist(facts.where(col("doc_id") < mid)), hist(facts.where(col("doc_id") >= mid)), "drift:n_tok")
        .head()
    } { r =>
      // both halves draw lengths from the same uniform generator
      val psi = r.getAs[Double]("psi")
      if (psi >= 0 && psi < 0.01 && r.getAs[String]("verdict") == "pass") None
      else Some(s"drift between identically distributed halves: psi=$psi")
    }
  }

  override def counters: Map[String, Double] = Map("core.violations" -> violations.toDouble)
}

object Audit {
  val WarmUpS = 30.0
}

/** The `TokenPipelineCli` composition, stage for stage, over a table with
  * planted exact and near-duplicate clusters: validation report and
  * fail-closed filter, exact dedup, MinHash candidate pairs, star connected
  * components, packing, resumable write. The one materialisation the CLI
  * does not make is the checkpoint of the candidate pairs, which lets the
  * MinHash and CC stages be timed apart. */
final class TokenPipeline(spark: SparkSession, data: String, shape: Inputs.Shape, lo: Long, hi: Long,
    scratch: String) extends Workload {
  private val model = new Inputs.Model(shape, lo, hi)
  private val pack = AuditCli.tokenRulePack(maxLen = shape.maxLen.toInt)
  private val budget = 2048L
  private val root = model.nearDupRoot
  private val survivors = model.validRows - model.exactDupRows - model.nearDupRemoved
  private val survivorTokens = model.dedupedTokens - model.nearDupRemoved * Inputs.ClusterLen
  private var facts: DataFrame = _
  private val counts = mutable.Map.empty[String, Double]
  lazy val rows: Long = model.inputRows
  private val opNames = Seq("core.validate", "pipeline.exact_dedup", "pipeline.minhash", "pipeline.cc",
    "pipeline.packing", "table.write")

  def open(): Unit = facts = spark.read.parquet(data)

  private def numericId(c: String) = regexp_extract(col(c), "(\\d+)", 1).cast("long")

  def pass(ops: Ops, tr: Tracer): Unit = {
    val store = s"$scratch/store-${ops.pass}"
    for {
      valid <- ops("core.validate") {
        val n0 = facts.count()
        val violations = tr.span("core.compile")(Violations.validate(facts, pack, Seq("doc_id")))
        val report = Violations.sampleViolations(violations, Seq("doc_id"), perRuleK = 5)
          .orderBy("path", "rule_id").collect()
        val badIds = violations.select(col("doc_id")).distinct()
        val dupIds = Uniqueness.duplicateKeys(facts, Seq("doc_id")).select("doc_id")
        val valid = facts.join(badIds.unionByName(dupIds).distinct(), Seq("doc_id"), "left_anti")
        (valid, n0, report.groupMapReduce(_.getAs[String]("rule_id"))(_.getAs[Long]("n_violations"))(_ + _),
          valid.count())
      } { case (_, n0, byRule, n1) =>
        Check.equal("input rows", model.inputRows, n0)
          .orElse(Check.equal("violations per rule", model.pipelineRuleCounts.filter(_._2 > 0), byRule))
          .orElse(Check.equal("rows after fail-closed validation", model.validRows, n1))
      }.map(_._1)

      deduped <- ops("pipeline.exact_dedup") {
        val fp = TokenPipelineSteps.withTokenFingerprint(valid)
        val keepers = fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
        val d = fp.join(keepers, Seq("fp", "doc_id"), "left_semi").drop("fp").localCheckpoint()
        (d, d.count())
      }(r => Check.equal("rows after exact dedup", model.validRows - model.exactDupRows, r._2)).map(_._1)

      pairs <- ops("pipeline.minhash") {
        Dedup.minhashCandidatePairsTokens(deduped, "doc_id", "tokens", shingleK = 3,
          numHashes = 16, bands = 8, family = Dedup.XxFast, expectedDocs = Some(model.validRows))
          .localCheckpoint()
      } { p =>
        val got = p.collect().map(r => (r.getString(0), r.getString(1))).toSet
        counts("pipeline.candidate_pairs") = got.size
        val missed = model.plantedLinks.filterNot(got)
        counts("pipeline.links_missed") = missed.size
        val stray = got.filterNot { case (a, b) => root.get(a).exists(root.get(b).contains) }
        // with an ideal hash family a slice misses any planted link with
        // probability below 1e-4 (about 900 links at 5e-8 each)
        if (stray.nonEmpty) Some(s"${stray.size} candidate pairs join docs of no common cluster, e.g. ${stray.head}")
        else if (missed.nonEmpty) Some(s"MinHash missed ${missed.size} planted links, e.g. ${missed.head}")
        else None
      }

      cleaned <- ops("pipeline.cc") {
        val comps = Dedup.connectedComponentsStar(pairs)
        val drop = comps.where(col("id") =!= col("component")).select(col("id").as("doc_id"))
        val c = deduped.join(drop, Seq("doc_id"), "left_anti").localCheckpoint()
        (c, c.count(), comps)
      } { case (_, n, comps) =>
        counts("pipeline.docs_removed") = model.inputRows - n
        // every planted cluster collapses to its min id, and nothing else is joined
        val got = comps.collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val wrong = (root.keySet ++ got.keySet).filter(id => root.get(id) != got.get(id))
        Check.equal("docs not in the min-id component of their planted cluster", 0, wrong.size)
          .map(_ + wrong.headOption.fold("")(id => s", e.g. $id: got ${got.get(id)}, planted ${root.get(id)}"))
          .orElse(Check.equal("rows after near-dup collapse", survivors, n))
      }.map(_._1)

      _ <- ops("pipeline.packing") {
        val packed = Packing.packSequences(cleaned.withColumn("__nid", numericId("doc_id")), "__nid", "n_tok",
          budget = budget)
        val bins = Packing.binReport(cleaned.select(numericId("doc_id").as("id"), col("n_tok")), budget).collect()
        (packed.count(), bins.head.getAs[Long]("total_tokens"))
      }(Check.equal("packed docs and tokens", (survivors, survivorTokens), _))

      _ <- ops("table.write") {
        val bucketed = cleaned.withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(8)).cast("int"))
        new SnapshotStore(store, spark).writeResumable(bucketed, "bucket", s"perfbench-$lo-${ops.pass}")
      }(w => Check.equal("rows written, buckets", (survivors, 8), (w.values.sum, w.size)))
    } yield ()
    ops.skipped(opNames)
    if (tr.enabled) {
      val files = Option(new File(store)).filter(_.exists).toSeq.flatMap(Harness.walk)
      counts("table.write_mb") = files.map(_.length).sum / 1e6
      counts("table.files") = files.count(_.getName.endsWith(".parquet"))
    }
    Harness.delete(new File(store))
  }

  override def counters: Map[String, Double] = counts.toMap
}

/** A fixed set of `SparkEntry.queries`, cold, in a seed-permuted order;
  * results are written out afterwards for the oracle compare. */
final class Suite(spark: SparkSession, sfDir: String, seed: Long, out: String) extends Workload {
  val order: Seq[String] = new scala.util.Random(seed).shuffle(Suite.Queries)
  val results = mutable.LinkedHashMap.empty[String, DataFrame]
  def rows: Long = 0L

  def open(): Unit = ()

  /** The frozen driver meter's warm-up (one read of the smallest table), then
    * one cheap query outside the measured set through the noop sink, so the
    * first measured query does not also pay for the first query of the JVM. */
  override def warmUp(ops: Ops, tr: Tracer): Unit = {
    spark.read.parquet(s"$sfDir/region.parquet").count()
    SparkEntry.queries(Suite.WarmUp)(spark, sfDir).write.mode("overwrite").format("noop").save()
  }

  def pass(ops: Ops, tr: Tracer): Unit = order.foreach { q =>
    ops(q, span = "entry.query") {
      val df = tr.span("entry.build")(SparkEntry.queries(q)(spark, sfDir))
      tr.span("entry.exec")(df.write.mode("overwrite").format("noop").save())
      df
    }(_ => None).foreach(results(q) = _)
  }

  /** Untimed: every successful result to parquet, plus the oracle SQL. The
    * writes re-run each query's plan; they run concurrently because each
    * keeps only a few of the cores busy. */
  def writeResults(ops: Ops): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val writes = results.toSeq.map { case (q, df) =>
      val write: java.util.concurrent.Callable[Unit] = () => df.write.mode("overwrite").parquet(s"$out/results/$q")
      q -> pool.submit(write)
    }
    writes.foreach { case (q, f) =>
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException => ops.records.find(r => r.pass == 1 && r.name == q)
            .foreach(_.error = Some(s"result write failed: ${e.getCause.getMessage}"))
      }
    }
    pool.shutdown()
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (k, _) => results.contains(k) }))
  }
}

object Suite {
  /** A stratified sample of the 136 queries: within each family (q, v, p,
    * s, st, m), the queries ranked by their wall in a full cold pass at
    * sf0.01 on local[4], every eighth from rank 2. Each family's share of
    * the sample's walls in that pass is within one point of its share of
    * the full pass (perfbench/BASELINE.md). */
  val Queries = Seq(
    "m03_image_meta", "p22_block_dedup", "p26_temperature_mixture", "p27_domain_filter", "p28_dedup_keepers",
    "p35_block_dedup_apply", "p46_classifier_pr", "q06_orders_with_max_qty_item", "q11_sessionize",
    "s10_ann_ivfpq", "st06_stream_quantile_digest", "v07_drift_hist_quantity", "v17_map_closed_world",
    "v18_format_battery2", "v35_string_battery", "v41_custom_format", "v42_modality", "v45_tdigest_quantiles")
  val WarmUp = "q02_filter_topn"
  /** The sketch-backed queries; v45 and st06 are in the sample. */
  val Sketch = Set("v44_approx_distinct", "v45_tdigest_quantiles", "v47_drift_sketched", "st06_stream_quantile_digest")
}

/** Benchmark JVM entry point. Modes:
  *  - `gen`: materialise a workload's base input table under `--data`;
  *  - `run`: set up, warm up, run passes for `--seconds` over the slice of
  *    the base table in `--data` (or the suite's tables in `--sf`), write the record
  *    of operations (and, with `--trace 1`, the per-layer metrics) to
  *    `--out/result.json`. */
object Harness {
  /** A warm workload measures at least this many passes, however short
    * `--seconds` is. */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val mainEpochS = System.currentTimeMillis() / 1e3
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = a("cores")
    val shape = if (workload == "audit") Inputs.Audit else Inputs.Pipeline
    val t0 = System.nanoTime()
    val spark = GraftSession.get(cores, s"perfbench-$workload")
    val sessionS = since(t0)
    try a("mode") match {
      case "gen" =>
        val t = System.nanoTime()
        val df = if (workload == "audit") Inputs.auditTable(spark, shape) else Inputs.pipelineTable(spark, shape)
        df.write.mode("overwrite").parquet(a("data"))
        Files.writeString(Paths.get(a("data"), "_GEN.json"), Json(Map(
          "gen_s" -> since(t), "base_files" -> shape.baseFiles, "files" -> shape.files)))
      case "run" => run(spark, a, workload, cores.toInt, shape, mainEpochS, sessionS)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, a: Map[String, String], workload: String, cores: Int,
      shape: Inputs.Shape, mainEpochS: Double, sessionS: Double): Unit = {
    val seed = a("seed").toLong
    // the slice of base files this run reads: rows [lo, hi)
    val lo = a.get("first").fold(0L)(_.toLong * shape.rowsPerFile)
    val hi = lo + a.get("files").fold(shape.files.toLong)(_.toLong) * shape.rowsPerFile
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val tracer = new Tracer(spark)
    val ops = new Ops(tracer, a.getOrElse("inject", "").split(",").toSet)
    val w: Workload = workload match {
      case "audit" => new Audit(spark, a("data"), shape, lo, hi)
      case "token_pipeline" => new TokenPipeline(spark, a("data"), shape, lo, hi, out)
      case "suite" => new Suite(spark, a("sf"), seed, out)
    }
    // suite and token_pipeline run one cold pass per JVM, as a CLI user sees them
    val cold = workload != "audit"

    var t = System.nanoTime()
    w.open()
    val openS = since(t)
    t = System.nanoTime()
    w.warmUp(ops, tracer)
    val warmupS = since(t)

    val heap0 = if (traced) usedHeapMb() else 0.0
    val layers = mutable.LinkedHashMap.empty[String, Double]
    // (traced?, first span, last span, wall) of each measured pass
    val passes = mutable.ArrayBuffer.empty[(Boolean, Int, Int, Double)]
    val probes = new Probes(spark)
    var compiles = 0L
    var compileS = 0.0

    def onePass(withTrace: Boolean): Unit = {
      ops.pass += 1
      tracer.enabled = withTrace
      if (withTrace) probes.attach()
      val (c0, s0) = Codegen.snapshot()
      val first = tracer.spans.size
      val start = System.nanoTime()
      w.pass(ops, tracer)
      val wall = since(start)
      if (withTrace) {
        probes.detach()
        val (c1, s1) = Codegen.snapshot()
        compiles += c1 - c0
        compileS += s1 - s0
      }
      tracer.enabled = false
      passes += ((withTrace, first, tracer.spans.size, wall))
    }

    // A traced run interleaves untraced and traced passes in whole blocks of
    // U T T U, so a trend in pass time (JIT warming) cancels out of
    // trace.overhead.
    def tracedAt(i: Int) = traced && (i % 4 == 1 || i % 4 == 2)
    val began = System.nanoTime()
    if (cold) {
      onePass(traced)
      if (traced) {
        layers ++= perLayer(w, tracer, probes, passes.toSeq, (compiles, compileS), cores)
        // warm passes, for the overhead only; the first, still far slower
        // than the rest, is left out of it
        (-1 until 4).foreach(i => onePass(i >= 0 && tracedAt(i)))
      }
    } else {
      // the closed loop: at least MinPasses passes, for at least `seconds`
      var i = 0
      while (i < MinPasses || since(began) < seconds || (traced && i % 4 != 0)) {
        onePass(tracedAt(i))
        i += 1
      }
      if (traced) layers ++= perLayer(w, tracer, probes, passes.toSeq.filter(_._1), (compiles, compileS), cores)
    }
    if (traced) {
      val (on, off) = passes.toSeq.drop(if (cold) 2 else 0).partition(_._1)
      layers("trace.overhead") = on.map(_._4).sum / off.map(_._4).sum - 1
      layers("isolation.heap_growth_mb") = usedHeapMb() - heap0
      layers("isolation.memory_tables") = spark.catalog.listTables().collect().count(_.isTemporary).toDouble
    }
    w match { case s: Suite => s.writeResults(ops); case _ => }

    Files.writeString(Paths.get(out, "result.json"), Json(Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "rows" -> w.rows,
      "main_epoch_s" -> mainEpochS, "session_s" -> sessionS, "open_s" -> openS, "warmup_s" -> warmupS,
      "ops" -> ops.records.map(r => Map("pass" -> r.pass, "name" -> r.name, "wall_s" -> r.wallS, "error" -> r.error)),
      "passes" -> passes.map(p => Map("traced" -> p._1, "wall_s" -> p._4)),
      "layers" -> layers,
      "spans" -> tracer.spans.map(s => Seq(s.id, s.op, s.parent, s.name, s.start, s.end)),
      "peak_rss_mb" -> peakRssMb())))
  }

  /** Per-layer metrics from the traced passes, as means per pass. */
  private def perLayer(w: Workload, tracer: Tracer, probes: Probes, passes: Seq[(Boolean, Int, Int, Double)],
      codegen: (Long, Double), cores: Int): Map[String, Double] = {
    val n = passes.size.toDouble
    val spans = passes.flatMap { case (_, a, b, _) => tracer.spans.slice(a, b) }
    def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
    def work(pred: Span => Boolean) = probes.workOf(spans.filter(pred).map(_.id))
    val all = work(_ => true)
    val wall = passes.map(_._4).sum
    val mb = 1e6 * n
    // walls of the suite's queries, by family prefix
    val suiteWalls = w match {
      case s: Suite =>
        val roots = spans.filter(_.name == "entry.query").sortBy(_.start)
        s.order.zip(roots).map { case (q, sp) => q -> sp.seconds }
      case _ => Nil
    }
    def family(p: String => Boolean) = suiteWalls.collect { case (q, s) if p(q) => s }.sum / n
    val self = tracer.selfSeconds(spans)
    val trig = probes.triggerMs.sorted
    Map(
      "entry.build_s" -> secs("entry.build"),
      "entry.exec_s" -> secs("entry.exec"),
      "entry.build_jobs" -> work(_.name == "entry.build").jobs / n,
      "entry.floored_scans" -> probes.roundRobin / n,
      "entry.relational_s" -> family(_.startsWith("q")),
      "catalyst.analysis_s" -> probes.analysisMs / 1e3 / n,
      "catalyst.optimization_s" -> probes.optimizationMs / 1e3 / n,
      "catalyst.planning_s" -> probes.planningMs / 1e3 / n,
      "codegen.compiles" -> codegen._1 / n,
      "codegen.compile_s" -> codegen._2 / n,
      "spark.jobs" -> all.jobs / n,
      "spark.stages" -> all.stages / n,
      "spark.tasks" -> all.tasks / n,
      "spark.task_cpu_s" -> all.cpuNs / 1e9 / n,
      "spark.gc_s" -> all.gcMs / 1e3 / n,
      "spark.utilisation" -> all.cpuNs / 1e9 / (wall * cores),
      "spark.shuffle_write_mb" -> all.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> all.shuffleRead / mb,
      "spark.spill_mb" -> all.spill / mb,
      "spark.input_mb" -> all.input / mb,
      "core.compile_s" -> secs("core.compile"),
      "core.validate_s" -> secs("core.validate"),
      "core.suite_s" -> family(_.startsWith("v")),
      "global.uniqueness_s" -> secs("global.uniqueness"),
      "global.referential_s" -> secs("global.referential"),
      "global.shuffle_write_mb" -> work(_.layer == "global").shuffleWrite / mb,
      "stats.profile_s" -> secs("stats.profile"),
      "stats.drift_s" -> secs("stats.drift"),
      "functions.sketch_s" -> family(Suite.Sketch),
      "pipeline.exact_dedup_s" -> secs("pipeline.exact_dedup"),
      "pipeline.minhash_s" -> secs("pipeline.minhash"),
      "pipeline.cc_s" -> secs("pipeline.cc"),
      "pipeline.cc_jobs" -> work(_.name == "pipeline.cc").jobs / n,
      "pipeline.packing_s" -> secs("pipeline.packing"),
      "pipeline.suite_s" -> family(q => q.startsWith("p") || q.startsWith("s0") || q.startsWith("s1") || q.startsWith("m")),
      "streaming.suite_s" -> family(_.startsWith("st")),
      "streaming.batches" -> probes.batches / n,
      "streaming.batch_ms_p50" -> (if (trig.isEmpty) 0.0 else trig(trig.size / 2).toDouble),
      "streaming.state_commit_ms" -> probes.stateCommitMs / n,
      "table.write_s" -> secs("table.write"),
    ) ++ Seq("core", "global", "stats", "pipeline", "table", "entry").map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / n) ++
      Seq("core.violations", "pipeline.candidate_pairs", "pipeline.links_missed", "pipeline.docs_removed",
        "table.write_mb", "table.files")
        .map(k => k -> w.counters.getOrElse(k, 0.0))
  }

  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def usedHeapMb(): Double = {
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1e6
  }

  /** Peak resident set of this JVM (`VmHWM`). */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)

  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
