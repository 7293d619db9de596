package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, ForeachWriter, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.streaming.{Jobs, Sinks, Sources}

/** Timing and replay bookkeeping around the sink's writer. Executors of
  * `local[k]` share the driver JVM, so plain statics see every task. */
object SinkProbe {
  val writeNs = new AtomicLong
  val rows = new AtomicLong
  val opened = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
  val replayed = new AtomicLong

  /** Nanoseconds the bookkeeping of one `process` call costs. */
  def costNs(): Double = {
    val n = 200000
    val sink = new AtomicLong
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      val a = System.nanoTime()
      sink.addAndGet(System.nanoTime() - a)
      sink.incrementAndGet()
      i += 1
    }
    (System.nanoTime() - t0).toDouble / n
  }

  /** `inner` with each open / process call recorded. */
  def wrap[T](inner: ForeachWriter[T]): ForeachWriter[T] = new ForeachWriter[T] {
    override def open(partitionId: Long, epochId: Long): Boolean = {
      if (!opened.add((partitionId, epochId))) replayed.incrementAndGet()
      inner.open(partitionId, epochId)
    }
    override def process(value: T): Unit = {
      val t0 = System.nanoTime()
      inner.process(value)
      writeNs.addAndGet(System.nanoTime() - t0)
      rows.incrementAndGet()
    }
    override def close(errorOrNull: Throwable): Unit = inner.close(errorOrNull)
  }
}

/** Every progress report of the session's queries, in arrival order. */
final class ProgressLog extends StreamingQueryListener {
  val events = mutable.ArrayBuffer[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(events += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    synchronized(events.filter(_.id == id).toSeq)
}

/** A finished micro-batch: when it started and ended (epoch ms), its
  * input rows and the phase durations Spark reported. */
final case class MicroBatch(query: String, id: Long, startMs: Long, endMs: Long,
                            rows: Long, p: StreamingQueryProgress)

/** `stream_persist`: an open-loop lander moves seeded text files into a
  * landing dir on a fixed schedule while two queries read it through
  * `Sources.textDir`:
  *   (a) BlacklistFilter.valid → RunningCounts.counts → Sinks.jdbcWriter
  *       (pooled upserts into an in-memory Derby table);
  *   (b) SlidingCounts.counts → Sinks.parquetAppend.
  * A file's latency runs from its due time to the end of the later of
  * the two batches that cover it. */
object StreamPersist {

  final case class Sched(file: String, dueS: Double, lines: Long, phase: String)

  def parseLines(raw: DataFrame): DataFrame = {
    val parts = split(col("value"), " ", 3)
    raw.select(
      timestamp_seconds(parts.getItem(0).cast("long")).as("ts"),
      parts.getItem(1).as("user"),
      parts.getItem(2).as("value"))
  }

  /** Parameterized upsert. Derby needs the parameters typed; and its
    * MERGE plans break when several connections share them (NPEs inside
    * the engine), so the pool holds a single connection: [[PoolSize]]. */
  val Upsert: String =
    "MERGE INTO word_counts t USING SYSIBM.SYSDUMMY1 " +
      "ON t.word = CAST(? AS VARCHAR(512)) " +
      "WHEN MATCHED THEN UPDATE SET total = CAST(? AS BIGINT) " +
      "WHEN NOT MATCHED THEN INSERT (word, total) " +
      "VALUES (CAST(? AS VARCHAR(512)), CAST(? AS BIGINT))"
  val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"
  val PoolSize = 1

  /** A running pair of queries over one landing dir. */
  final class Pipeline(spark: SparkSession, dir: String, blacklistPath: String,
                       dbName: String, trace: Boolean) {
    val landing = s"$dir/landing"
    val url = s"jdbc:derby:memory:$dbName;create=true"
    Files.createDirectories(Paths.get(landing))
    private val conn = { Class.forName(DerbyDriver); java.sql.DriverManager.getConnection(url) }
    locally {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE word_counts (word VARCHAR(512) PRIMARY KEY, total BIGINT)")
      st.close()
    }
    private val blacklist = spark.read.text(blacklistPath).toDF("user")
    private val lines = parseLines(Sources.textDir(spark, landing))
    val writer: Sinks.PooledForeachWriter[(String, Long), java.sql.Connection] =
      Sinks.jdbcWriter[(String, Long)](url, DerbyDriver, Upsert,
        (ps, row, _) => {
          ps.setString(1, row._1); ps.setLong(2, row._2)
          ps.setString(3, row._1); ps.setLong(4, row._2)
        }, poolSize = PoolSize)
    val counts: StreamingQuery = {
      val valid = Jobs.BlacklistFilter.valid(lines, blacklist)
      Jobs.RunningCounts.writer(valid.select(col("value")), s"$dir/ckpt_counts")
        .foreach(if (trace) SinkProbe.wrap(writer) else writer)
        .queryName(s"counts_$dbName")
        .start()
    }
    val windows: StreamingQuery = {
      val words = lines.select(col("ts"),
        explode(split(col("value"), " ")).as("word"))
      Sinks.parquetAppend(Jobs.SlidingCounts.counts(words),
        s"$dir/out_windows", s"$dir/ckpt_windows")
    }
    def queries: Seq[StreamingQuery] = Seq(counts, windows)

    def poolCreated: Int =
      Sinks.ConnectionPools.getOrCreate[java.sql.Connection](writer.poolId,
        () => sys.error("pool exists"), PoolSize).createdCount

    def stop(): Unit = {
      queries.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      Sinks.ConnectionPools.remove(writer.poolId)
    }

    /** Final Derby table as `word,total` lines. */
    def dumpTable(path: String): Unit = {
      val rs = conn.createStatement().executeQuery("SELECT word, total FROM word_counts")
      val w = new java.io.PrintWriter(path, "UTF-8")
      try while (rs.next()) w.println(s"${rs.getString(1)},${rs.getLong(2)}")
      finally { w.close(); rs.close() }
    }

    def close(): Unit = try conn.close() catch { case NonFatal(_) => () }
  }

  /** Moves staged files into `landing` at their due times (epoch ms);
    * the schedule never waits for the queries. Records when each move
    * landed. */
  final class Lander(staging: String, landing: String, sched: Seq[Sched], due: Seq[Long])
      extends Thread("perfbench-lander") {
    val landedMs = new Array[Long](sched.size)
    setDaemon(true)
    override def run(): Unit = {
      var i = 0
      while (i < sched.size) {
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val src = Paths.get(staging, sched(i).file)
        val now = System.currentTimeMillis()
        Files.setLastModifiedTime(src, FileTime.fromMillis(now))
        Files.move(src, Paths.get(landing, sched(i).file), StandardCopyOption.ATOMIC_MOVE)
        landedMs(i) = System.currentTimeMillis()
        i += 1
      }
    }
  }

  /** file name → the entry of the file source's log that lists it, from
    * a checkpoint. The source numbers its entries itself: see
    * [[byLogEntry]]. */
  def fileBatches(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(ckpt, "sources", "0").toFile
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Option(dir.listFiles()).toSeq.flatten.filter(f => !f.getName.startsWith("."))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().drop(1).filter(_.startsWith("{")).map { l =>
          val n = mapper.readTree(l)
          Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString ->
            n.get("batchId").asLong
        }.toList
        finally src.close()
      }.toMap
  }

  def batches(log: ProgressLog, q: StreamingQuery, name: String): Seq[MicroBatch] =
    log.of(q.id).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = p.durationMs.getOrDefault("triggerExecution", 0L).longValue
      MicroBatch(name, p.batchId, start, start + dur, p.numInputRows, p)
    }

  /** file source log entry → the batch that read it. The entries drift
    * from the query's batch ids once the query runs a batch without new
    * files (the windows query does, to evict state past the watermark);
    * a batch read the entries after its start offset up to its end
    * offset. */
  def byLogEntry(bs: Seq[MicroBatch]): Map[Long, MicroBatch] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def entry(offset: String): Long =
      if (offset == null) -1L else mapper.readTree(offset).get("logOffset").asLong
    bs.flatMap { b =>
      val src = b.p.sources.head
      (entry(src.startOffset) + 1 to entry(src.endOffset)).map(_ -> b)
    }.toMap
  }

  /** Which batch of each query read each landed file. */
  final class Coverage(dir: String, log: ProgressLog, p: Pipeline) {
    private val perQuery = Seq("ckpt_counts" -> p.counts, "ckpt_windows" -> p.windows)
      .map { case (ck, q) =>
        (byLogEntry(batches(log, q, ck)), fileBatches(s"$dir/$ck"))
      }

    /** Epoch ms at which both queries had finished the batch that read
      * `file` (None if either never read it). */
    def doneMs(file: String): Option[Long] = {
      val ends = perQuery.map { case (bs, fb) => fb.get(file).flatMap(bs.get).map(_.endMs) }
      if (ends.forall(_.isDefined)) Some(ends.flatten.max) else None
    }

    /** Seconds the slower query spent in the batches that read `files`. */
    def busySeconds(files: Seq[String]): Double =
      perQuery.map { case (bs, fb) =>
        files.flatMap(fb.get).distinct.flatMap(bs.get).map(b => b.endMs - b.startMs).sum
      }.max / 1000.0
  }

  def land(staging: String, landing: String, f: Sched): Unit =
    Files.move(Paths.get(staging, f.file), Paths.get(landing, f.file),
      StandardCopyOption.ATOMIC_MOVE)

  /** One open-loop segment: the files the lander moved (lead-in, then
    * reference), their due and landing times (epoch ms). */
  final case class Segment(files: Seq[Sched], due: Seq[Long], landed: Seq[Long]) {
    private def ofRef[T](xs: Seq[T]): Seq[T] =
      files.zip(xs).collect { case (s, x) if s.phase.startsWith("ref") => x }
    def ref: Seq[Sched] = files.filter(_.phase.startsWith("ref"))
    def refDue: Seq[Long] = ofRef(due)
    def refLanded: Seq[Long] = ofRef(landed)
  }

  /** What one pass over the schedule left to measure. */
  final case class PassResult(p: Pipeline, segments: Seq[Segment], cov: Coverage, conns: Int) {
    /** When the first reference file was due (epoch ms). */
    def timedStartMs: Long = segments.head.refDue.head
  }

  /** One pass, every part processed by both queries. Set-up: the
    * warm-up files, landed at once and processed to the end (compiles
    * the pipeline). Then segments `i` = 0, 1, …,
    * each an open loop of the `lead<i>` files (untimed: the JIT warms up
    * and the batch cycle reaches its steady state) and the `ref<i>` files
    * on their schedule, then the capacity burst `burst<i>`, landed and
    * processed like the warm-up files. Spreading the timed parts over
    * the run lets a median over segments ignore a disturbance that slows
    * one of them. */
  def pass(spark: SparkSession, log: ProgressLog, dir: String, staging: String,
           blacklist: String, sched: Seq[Sched], trace: Boolean): PassResult = {
    val p = new Pipeline(spark, dir, blacklist,
      s"pb${ProcessHandle.current().pid()}_${dir.hashCode.abs}", trace)
    def closed(files: Seq[Sched]): Unit = {
      files.foreach(land(staging, p.landing, _))
      p.queries.foreach(_.processAllAvailable())
    }
    def openLoop(files: Seq[Sched]): Segment = {
      val t0Ms = System.currentTimeMillis() + 100
      val due = files.map(s => t0Ms + ((s.dueS - files.head.dueS) * 1000).toLong)
      val lander = new Lander(staging, p.landing, files, due)
      lander.start()
      lander.join()
      p.queries.foreach(_.processAllAvailable())
      Segment(files, due, lander.landedMs.toSeq)
    }
    def phase(name: String): Seq[Sched] = sched.filter(_.phase == name)
    closed(phase("warmup"))
    val segments = Iterator.from(0).takeWhile(i => phase(s"ref$i").nonEmpty).map { i =>
      val seg = openLoop(phase(s"lead$i") ++ phase(s"ref$i"))
      closed(phase(s"burst$i"))
      seg
    }.toList
    val conns = p.poolCreated
    p.stop()
    // every progress report delivered before the coverage reads them
    org.apache.spark.SparkAccess.drainListeners(spark.sparkContext)
    PassResult(p, segments, new Coverage(dir, log, p), conns)
  }

  /** Due → done milliseconds of each reference file of `seg` that both
    * queries read. */
  def latencies(r: PassResult, seg: Segment): Seq[Double] =
    seg.ref.zip(seg.refDue).flatMap { case (s, d) =>
      r.cov.doneMs(s.file).map(e => (e - d).toDouble)
    }

  /** Median over the segments of each segment's latency quantile `q`. */
  def latency(r: PassResult, q: Double): Double =
    Stats.median(r.segments.map(seg => Stats.quantile(latencies(r, seg), q)))

  def run(cfg: RunConfig): Map[String, Any] = {
    val runDir = cfg.runDir
    System.setProperty("derby.stream.error.file", s"$runDir/derby.log")
    val plan = cfg.plan
    val sc = plan("stream").asInstanceOf[Map[String, Any]]
    val sched = plan("schedule").asInstanceOf[Seq[Map[String, Any]]].map { m =>
      Sched(m("file").toString, m("due_s").toString.toDouble, m("lines").toString.toLong,
        m("phase").toString)
    }
    val spark = Harness.session(cfg.cores, runDir)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val c = new Batch.Ctx(cfg, spark, new Tracer(false, spark))
    val dir = s"$runDir/stream"
    val blacklist = s"$runDir/blacklist.txt"
    val r = pass(spark, log, dir, s"$runDir/staging", blacklist, sched, cfg.trace)
    val setupS = (r.timedStartMs - Harness.processStartMs) / 1000.0
    locally {
      val w = new java.io.PrintWriter(s"$runDir/progress.jsonl", "UTF-8")
      try log.events.synchronized(log.events.foreach(e => w.println(e.json)))
      finally w.close()
    }
    val p = r.p
    p.queries.flatMap(_.exception).foreach(e => c.errors += e.getMessage.take(500))
    val outDir = s"$runDir/out"
    Files.createDirectories(Paths.get(outDir))
    p.dumpTable(s"$outDir/word_counts.csv")
    p.close()
    val timed = sched.filter(s => s.phase.startsWith("ref") || s.phase.startsWith("burst"))
    c.attempted = timed.size
    c.failed = timed.count(s => r.cov.doneMs(s.file).isEmpty) +
      p.queries.count(_.exception.isDefined)

    val samples = r.segments.map(latencies(r, _).size).sum
    // capacity: lines of each burst ÷ the slower query's busy seconds on it
    val capacity = timed.filter(_.phase.startsWith("burst")).groupBy(_.phase).values.map { b =>
      b.map(_.lines).sum / r.cov.busySeconds(b.map(_.file))
    }.toSeq
    val windowsWm = batches(log, p.windows, "w").lastOption
      .flatMap(b => Option(b.p.eventTime.get("watermark"))).getOrElse("")

    if (!cfg.trace) {
      c.metric("setup_s", setupS, "s")
      c.metric("ops_per_s", Stats.median(capacity), "1/s")
      c.metric("lat_p50_ms", latency(r, 0.5), "ms")
      c.metric("lat_p90_ms", latency(r, 0.9), "ms")
    } else {
      traceLayers(c, log, r, sc("lat_limit_ms").toString.toDouble)
      // scale-up baseline: the warm-up and the first open loop again on
      // one core, against the first segment's median on k cores
      spark.stop()
      val one = Harness.session(1, runDir)
      val log1 = new ProgressLog
      one.streams.addListener(log1)
      val base = s"$runDir/base"
      Files.createDirectories(Paths.get(base, "staging"))
      val again = sched.filter(s => Set("warmup", "lead0", "ref0")(s.phase))
      again.foreach(f => Files.copy(Paths.get(p.landing, f.file), Paths.get(base, "staging", f.file)))
      val r1 = pass(one, log1, s"$base/stream", s"$base/staging", blacklist, again,
        trace = false)
      c.metric("scaleup.stream", latency(r1, 0.5) / Stats.median(latencies(r, r.segments.head)),
        "ratio")
    }
    c.result("stream_out" -> Map(
      "word_counts" -> s"$outDir/word_counts.csv",
      "windows" -> s"$dir/out_windows",
      "landing" -> p.landing,
      "blacklist" -> blacklist,
      "windows_watermark" -> windowsWm),
      "ref_samples" -> samples, "capacity" -> capacity)
  }

  def traceLayers(c: Batch.Ctx, log: ProgressLog, r: PassResult, latLimitMs: Double): Unit = {
    val p = r.p
    // the timed part only: the segments and their capacity bursts
    val all = (batches(log, p.counts, "counts") ++ batches(log, p.windows, "windows"))
      .filter(_.startMs >= r.timedStartMs)
    def dur(b: MicroBatch, k: String) = b.p.durationMs.getOrDefault(k, 0L).doubleValue
    val busy = all.filter(_.rows > 0)
    c.metric("stream.batch_ms_p50", Stats.median(busy.map(b => (b.endMs - b.startMs).toDouble)), "ms")
    c.metric("stream.batch_ms_p90", Stats.quantile(busy.map(b => (b.endMs - b.startMs).toDouble), 0.9), "ms")
    c.metric("stream.add_batch_ms", Stats.median(busy.map(dur(_, "addBatch"))), "ms")
    c.metric("stream.query_planning_ms", Stats.median(busy.map(dur(_, "queryPlanning"))), "ms")
    c.metric("stream.wal_commit_ms", Stats.median(busy.map(b => dur(b, "walCommit") + dur(b, "commitOffsets"))), "ms")
    c.metric("sources.latest_offset_ms", Stats.median(busy.map(dur(_, "latestOffset"))), "ms")
    // backlog at each batch end of a segment's reference files: landed −
    // done files; its growth is the slope over the segment's second half
    // (the first fills the pipeline from idle), median over the segments
    val ends = all.map(_.endMs).sorted
    val perSeg = r.segments.map { seg =>
      val (refStart, refEnd) = (seg.refDue.head, seg.refDue.last)
      val doneAt = seg.ref.map(s => r.cov.doneMs(s.file).getOrElse(Long.MaxValue))
      val backlog = ends.filter(e => e >= refStart && e <= refEnd)
        .map(e => e -> (seg.refLanded.count(_ <= e) - doneAt.count(_ <= e)).toDouble)
      val arrivals = seg.ref.size / ((refEnd - refStart) / 1000.0).max(1e-3)
      val late = backlog.filter(_._1 >= (refStart + refEnd) / 2)
      (backlog, slope(late.map(b => (b._1 / 1000.0, b._2))), arrivals)
    }
    val backlogs = perSeg.flatMap(_._1.map(_._2))
    c.metric("sources.backlog_files", if (backlogs.isEmpty) 0.0 else backlogs.max, "count")
    val growth = Stats.median(perSeg.map(_._2))
    c.metric("sources.backlog_slope", growth, "1/s")
    // the rung is sustained when its p90 meets the limit and its backlog
    // grows by less than a tenth of the files arriving (batch-end
    // samples of the backlog saw-tooth by a file or two)
    c.metric("stream.ref_rate_ok",
      if (latency(r, 0.9) < latLimitMs && growth <= 0.1 * Stats.median(perSeg.map(_._3))) 1.0
      else 0.0, "bool")
    // state store of each stateful operator, summed over the two queries
    val last = Seq(p.counts, p.windows).flatMap(q => batches(log, q, "").lastOption)
    c.metric("state.rows_total", last.flatMap(_.p.stateOperators.map(_.numRowsTotal)).sum.toDouble, "count")
    c.metric("state.mem_bytes", last.flatMap(_.p.stateOperators.map(_.memoryUsedBytes)).sum.toDouble, "bytes")
    c.metric("state.commit_ms", Stats.median(busy.map(_.p.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms")
    c.metric("state.rows_dropped_by_watermark",
      all.flatMap(_.p.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble, "count")
    c.metric("sinks.write_ms", SinkProbe.writeNs.get / 1e6, "ms")
    c.metric("sinks.rows_written", SinkProbe.rows.get.toDouble, "count")
    c.metric("sinks.conns_created", r.conns.toDouble, "count")
    c.metric("sinks.epochs_replayed", SinkProbe.replayed.get.toDouble, "count")
    // self time per module, from the per-batch phase durations: the
    // source's offset listing and batch read, the job's planning and
    // addBatch (state and sink work included), the sink's row writes
    // (summed over tasks)
    val sumS = (ks: Seq[String]) => all.map(b => ks.map(dur(b, _)).sum).sum / 1000
    c.metric("self.Sources_s", sumS(Seq("latestOffset", "getBatch")), "s")
    c.metric("self.Jobs_s", sumS(Seq("queryPlanning", "addBatch")), "s")
    c.metric("self.Sinks_s", SinkProbe.writeNs.get / 1e9, "s")
    // tracing here is the sink wrapper's bookkeeping: its cost per row,
    // calibrated, times the rows, over the counts query's busy time
    val counts = all.filter(_.query == "counts")
    c.metric("trace.overhead_frac", SinkProbe.rows.get * SinkProbe.costNs() /
      (counts.map(b => (b.endMs - b.startMs).toDouble).sum * 1e6).max(1.0), "ratio")
    val late = r.segments.flatMap(seg => seg.landed.zip(seg.due).map { case (l, d) => (l - d).toDouble })
    c.metric("gen.late_ms", Stats.quantile(late, 0.99), "ms")
  }

  /** Least-squares slope of (x, y). */
  def slope(xy: Seq[(Double, Double)]): Double =
    if (xy.size < 2) 0.0
    else {
      val mx = Stats.mean(xy.map(_._1))
      val my = Stats.mean(xy.map(_._2))
      val den = xy.map(p => (p._1 - mx) * (p._1 - mx)).sum
      if (den == 0) 0.0 else xy.map(p => (p._1 - mx) * (p._2 - my)).sum / den
    }
}
