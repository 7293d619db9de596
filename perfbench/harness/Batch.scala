package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{SparkEntry, Tables}

/** What a traced entry call cost, split build / plan / execute. */
final case class EntryStat(buildS: Double, buildJobs: Long,
                           tablesJobs: Long, planS: Double, execS: Double,
                           exec: Counters, exchanges: Int)

/** Outcome of one timed operation. */
final case class Op(name: String, seconds: Double, ok: Boolean)

/** Closed-loop batch workloads: one client runs the registry entries of
  * the plan back to back, in whole passes (`curate_batch`) or rounds
  * (`report_mix`), until the run's seconds are used up. */
object Batch {

  final class Ctx(val cfg: RunConfig, val spark: SparkSession, val tr: Tracer) {
    val errors = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)

    /** Run `body` as one attempted op; a throw counts as failed. */
    def attempt[T](name: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          None
      }
    }

    /** Untraced op: build the entry's frame and execute it under a noop
      * sink, which runs the whole plan and keeps no output. */
    def timedOp(name: String): Op = {
      val t0 = System.nanoTime()
      val ok = attempt(name) {
        SparkEntry.queries(name)(spark, cfg.data)
          .write.format("noop").mode("overwrite").save()
      }.isDefined
      Op(name, (System.nanoTime() - t0) / 1e9, ok)
    }

    /** Traced op: the same call with build, Catalyst planning and
      * execution timed apart and the jobs of each counted. */
    def tracedOp(name: String): (Op, Option[EntryStat]) = {
      tr.ctx = name
      val t0 = System.nanoTime()
      val stat = attempt(name) {
        tr.span(s"SparkEntry.entry") {
          val ((df, buildS), cb) = tr.counted(timed(tr.span("SparkEntry.build") {
            SparkEntry.queries(name)(spark, cfg.data)
          }))
          val (_, planS) = timed(tr.span("Catalyst.plan")(df.queryExecution.executedPlan))
          tr.lastPlan.plan = None
          val ((_, execS), ce) = tr.counted(timed(tr.span("execution.noop_write") {
            df.write.format("noop").mode("overwrite").save()
          }))
          EntryStat(buildS, cb.jobs, cb.tablesJobs, planS, execS, ce,
            tr.lastPlan.plan.map(Plans.exchanges).getOrElse(0))
        }
      }
      (Op(name, (System.nanoTime() - t0) / 1e9, stat.isDefined), stat)
    }

    /** Warm-up op: the entry's output written once as parquet, for the
      * oracle check. Its oracle SQL goes to the checker. */
    def writeOp(name: String): Option[Map[String, String]] = {
      val dir = s"${cfg.runDir}/out/$name"
      attempt(name) {
        SparkEntry.queries(name)(spark, cfg.data).write.mode("overwrite").parquet(dir)
      }.map(_ => Map("name" -> name, "dir" -> dir, "sql" -> SparkEntry.oracleSql(name)))
    }

    def result(extra: (String, Any)*): Map[String, Any] =
      Map("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
        "metrics" -> metrics.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) }.toMap) ++ extra
  }

  /** `body`'s result and its wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run whole groups of ops (passes or rounds): at least one, and
    * another only while it is expected to end within `seconds`. */
  def loop(seconds: Double)(group: Int => Seq[Op]): Seq[(Double, Seq[Op])] = {
    val out = mutable.ArrayBuffer[(Double, Seq[Op])]()
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 + out.last._1 <= seconds) {
      val g0 = System.nanoTime()
      val ops = group(i)
      out += (((System.nanoTime() - g0) / 1e9, ops))
      i += 1
    }
    out.toSeq
  }

  def setupSeconds(): Double =
    (System.currentTimeMillis() - Harness.processStartMs) / 1000.0

  /** Median seconds of each entry over the timed groups. */
  def perEntry(groups: Seq[(Double, Seq[Op])]): Map[String, Double] =
    groups.flatMap(_._2).groupBy(_.name).map { case (n, ops) =>
      n -> Stats.median(ops.map(_.seconds)) }

  /** Latency metrics over every op of the timed groups. */
  def latencies(c: Ctx, groups: Seq[(Double, Seq[Op])]): Unit = {
    val ms = groups.flatMap(_._2.map(_.seconds * 1000))
    c.metric("lat_p50_ms", Stats.median(ms), "ms")
    c.metric("lat_p90_ms", Stats.quantile(ms, 0.9), "ms")
  }

  // ------------------------------------------------------------ traced

  /** One group with each entry run both untraced and traced, the
    * order alternating from entry to entry so that the second run's
    * warmer caches favour neither side. Sets the entry metrics (sums
    * over the group) and `trace.overhead_frac`; returns the untraced
    * group's seconds. */
  def tracedGroup(c: Ctx, entries: Seq[String]): Double = {
    var plain, traced = 0.0
    val stats = entries.zipWithIndex.flatMap { case (e, i) =>
      def runPlain(): Unit = plain += c.timedOp(e).seconds
      if (i % 2 == 0) runPlain()
      val (op, st) = c.tracedOp(e)
      traced += op.seconds
      if (i % 2 == 1) runPlain()
      st
    }
    def sumL(f: EntryStat => Long) = stats.map(f).sum.toDouble
    def sumD(f: EntryStat => Double) = stats.map(f).sum
    c.metric("entry.build_s", sumD(_.buildS), "s")
    c.metric("entry.build_jobs", sumL(_.buildJobs), "count")
    c.metric("tables.entry_read_jobs", sumL(_.tablesJobs), "count")
    c.metric("entry.plan_s", sumD(_.planS), "s")
    c.metric("entry.exec_s", sumD(_.execS), "s")
    c.metric("entry.exec_jobs", sumL(_.exec.jobs), "count")
    c.metric("entry.exchanges", sumL(_.exchanges.toLong), "count")
    c.metric("exec.stages", sumL(_.exec.stages), "count")
    c.metric("exec.tasks", sumL(_.exec.tasks), "count")
    c.metric("exec.shuffle_read_bytes", sumL(_.exec.shuffleRead), "bytes")
    c.metric("exec.shuffle_write_bytes", sumL(_.exec.shuffleWrite), "bytes")
    c.metric("exec.spill_bytes", sumL(_.exec.spill), "bytes")
    c.metric("exec.gc_s", sumL(_.exec.gcMs) / 1000.0, "s")
    c.metric("exec.peak_exec_mem_bytes",
      if (stats.isEmpty) 0.0 else stats.map(_.exec.peakExecMem).max.toDouble, "bytes")
    c.metric("exec.task_skew", Stats.median(stats.map(_.exec.skew)), "ratio")
    c.metric("trace.overhead_frac", traced / plain - 1, "ratio")
    plain
  }

  /** Each `Tables` accessor called alone: seconds and jobs per call. */
  def tablesLayer(c: Ctx): Unit = {
    val t = Tables(c.spark, c.cfg.data)
    val accessors: Seq[(String, () => DataFrame)] = Seq(
      "region" -> (() => t.region), "nation" -> (() => t.nation),
      "customer" -> (() => t.customer), "supplier" -> (() => t.supplier),
      "part" -> (() => t.part), "orders" -> (() => t.orders),
      "lineitem" -> (() => t.lineitem), "events" -> (() => t.events),
      "documents" -> (() => t.documents), "embeddings" -> (() => t.embeddings))
    val calls = accessors.map { case (n, f) =>
      c.tr.ctx = s"tables/$n"
      val t0 = System.nanoTime()
      val (_, k) = c.tr.counted(c.tr.span("Tables.read")(f()))
      ((System.nanoTime() - t0) / 1e9, k.jobs)
    }
    c.metric("tables.read_s", Stats.median(calls.map(_._1)), "s")
    c.metric("tables.read_jobs", Stats.mean(calls.map(_._2.toDouble)), "count")
  }

  /** Files and bytes under the run's warehouse. */
  def warehouseFootprint(c: Ctx): (Long, Long) = {
    val root = new Path(s"${c.cfg.runDir}/warehouse")
    val fs = root.getFileSystem(c.spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) (0L, 0L)
    else {
      val it = fs.listFiles(root, true)
      var files, bytes = 0L
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.endsWith(".crc")) { files += 1; bytes += f.getLen }
      }
      (files, bytes)
    }
  }

  /** Store accessors of `storage.Materialize` the curation gates read,
    * each called on the empty warehouse (cold build) and again (warm
    * open). */
  def storageLayer(c: Ctx): Unit = {
    val t = Tables(c.spark, c.cfg.data)
    val stores: Seq[(String, () => Any)] = Seq(
      "keeper_shingles" -> (() => graft.dedup.Dedup.keeperShinglesMaterialized(t)),
      "bands_bucketed" -> (() => graft.dedup.Dedup.bandsBucketed(t)),
      "windows" -> (() => graft.dedup.Substring.corpusWindowStorePinned(t)),
      "chunk_vectors" -> (() => graft.pipeline.ChunkSemantic.chunkVectorsMat(t)),
      "chunk_hashes" -> (() => graft.pipeline.Chunking.corpusChunkStorePinned(t)),
      "lm_scores" -> (() => graft.pipeline.Mixing.lmScoresMaterialized(t)))
    var cold, warm = 0.0
    stores.foreach { case (n, f) =>
      c.tr.ctx = s"storage/$n"
      c.attempt(s"store $n") {
        val t0 = System.nanoTime()
        c.tr.span("storage.cold_build")(f())
        val t1 = System.nanoTime()
        c.tr.span("storage.warm_open")(f())
        val t2 = System.nanoTime()
        c.metric(s"storage.cold_build_s.$n", (t1 - t0) / 1e9, "s")
        cold += (t1 - t0) / 1e9
        warm += (t2 - t1) / 1e9
      }
    }
    c.metric("storage.cold_build_s", cold, "s")
    c.metric("storage.warm_open_s", warm, "s")
  }

  /** Each admission gate alone under a noop sink, its rows counted by
    * an observed metric on the same execution. */
  def gateLayer(c: Ctx): Unit = {
    val t = Tables(c.spark, c.cfg.data)
    val gates: Seq[(String, () => DataFrame)] = Seq(
      "clean" -> (() => graft.pipeline.CorpusClean.corpusCleanUnsorted(t)),
      "repetition" -> (() => graft.textanalysis.TextAnalysis.qualityRepetitionUnsorted(t)),
      "neardup" -> (() => graft.dedup.Dedup.dedupMinhashBucketedUnsorted(t)),
      "containment" -> (() => graft.dedup.Dedup.dedupContainmentUnsorted(t)),
      "semdup" -> (() => graft.pipeline.ChunkSemantic.docSemanticDupFracUnsorted(t)),
      "ccnet" -> (() => graft.pipeline.Mixing.ccnetBucketBoundedUnsorted(t)))
    gates.foreach { case (n, f) =>
      c.tr.ctx = s"gate/$n"
      c.attempt(s"gate $n") {
        val rows = Observation(n)
        val t0 = System.nanoTime()
        c.tr.span(s"gate.$n") {
          f().observe(rows, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
        }
        c.metric(s"gate.${n}_s", (System.nanoTime() - t0) / 1e9, "s")
        c.metric(s"gate.${n}_rows_out", rows.get("n").toString.toDouble, "count")
      }
    }
    c.attempt("dedup counts") {
      c.tr.ctx = "dedup"
      val ann = c.tr.span("dedup.ann_candidates")(
        graft.dedup.Dedup.multiprobeCandidates(t).count())
      val cand = c.tr.span("dedup.minhash_candidates")(
        graft.dedup.Dedup.minhashCandidates(t).count())
      // verified pairs: the rows of the entry's output the warm-up pass wrote
      val verified = c.tr.span("dedup.verified")(
        c.spark.read.parquet(s"${c.cfg.runDir}/out/dedup_minhash_verified").count())
      c.metric("dedup.ann_candidate_pairs", ann.toDouble, "count")
      c.metric("dedup.candidate_pairs", cand.toDouble, "count")
      c.metric("dedup.verified_frac",
        if (cand == 0) 0.0 else verified.toDouble / cand, "ratio")
    }
  }

  /** Self seconds per module over all spans of the traced run. */
  def selfTimes(c: Ctx): Unit =
    c.tr.selfSeconds.foreach { case (m, sec) => c.metric(s"self.${m}_s", sec, "s") }

  // --------------------------------------------------------- workloads

  def curate(cfg: RunConfig): Map[String, Any] = {
    val spark = Harness.session(cfg.cores, cfg.runDir)
    val c = new Ctx(cfg, spark, new Tracer(cfg.trace, spark))
    val entries = cfg.strings("entries")
    val docs = cfg.plan("docs").toString.toDouble
    if (cfg.trace) storageLayer(c)
    // warm-up pass: builds every remaining store from the empty
    // warehouse, compiles each entry's code once and writes the
    // outputs the oracle checks
    val verify = entries.flatMap(c.writeOp)
    val setupS = setupSeconds()
    val (files, bytes) = warehouseFootprint(c)
    if (!cfg.trace) {
      val passes = loop(cfg.seconds)(_ => entries.map(c.timedOp))
      c.metric("setup_s", setupS, "s")
      c.metric("ops_per_s", docs / Stats.median(passes.map(_._1)), "1/s")
      latencies(c, passes)
      c.result("verify" -> verify, "passes" -> passes.size,
        "entry_s" -> perEntry(passes))
    } else {
      c.metric("storage.bytes_written", bytes.toDouble, "bytes")
      c.metric("storage.files_written", files.toDouble, "count")
      val plainS = tracedGroup(c, entries)
      tablesLayer(c)
      gateLayer(c)
      selfTimes(c)
      c.tr.write(s"${cfg.runDir}/spans.jsonl")
      // scale-up: the same pass on one core, stores already warm
      spark.stop()
      val one = Harness.session(1, cfg.runDir)
      val c1 = new Ctx(cfg, one, new Tracer(false, one))
      val p1 = entries.map(c1.timedOp).map(_.seconds).sum
      c.metric("scaleup.curate", p1 / plainS, "ratio")
      c.result("verify" -> verify)
    }
  }

  def report(cfg: RunConfig): Map[String, Any] = {
    val spark = Harness.session(cfg.cores, cfg.runDir)
    val c = new Ctx(cfg, spark, new Tracer(cfg.trace, spark))
    val rounds = cfg.plan("rounds").asInstanceOf[Seq[Seq[Any]]].map(_.map(_.toString))
    // warm-up round: compiles each entry's code once, builds the few
    // stores report entries read and writes the outputs the oracle checks
    val verify = rounds.head.flatMap(c.writeOp)
    val setupS = setupSeconds()
    if (!cfg.trace) {
      val t0 = System.nanoTime()
      val timed = loop(cfg.seconds)(i => rounds((i + 1) % rounds.size).map(c.timedOp))
      val wall = (System.nanoTime() - t0) / 1e9
      c.metric("setup_s", setupS, "s")
      c.metric("ops_per_s", timed.map(_._2.count(_.ok)).sum / wall, "1/s")
      latencies(c, timed)
      c.result("verify" -> verify, "rounds" -> timed.size,
        "entry_s" -> perEntry(timed))
    } else {
      val (files, bytes) = warehouseFootprint(c)
      c.metric("storage.bytes_written", bytes.toDouble, "bytes")
      c.metric("storage.files_written", files.toDouble, "count")
      tracedGroup(c, rounds(1 % rounds.size))
      tablesLayer(c)
      selfTimes(c)
      c.tr.write(s"${cfg.runDir}/spans.jsonl")
      c.result("verify" -> verify)
    }
  }
}
