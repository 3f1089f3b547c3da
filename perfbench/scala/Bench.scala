package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.util.CollectionAccumulator

import graft.model.{ConvSnapshot, Schemas, Turn}
import graft.ops.{DumpManager, DumpService}
import graft.replay.Replay
import graft.serve.ServeApi
import graft.sink.MergeSink
import graft.snapshot.SnapshotStream
import graft.store.IcebergLikeTable

/** One traced MergeSink call (traced run only). `span` tags its jobs. */
final case class SinkRec(span: String, foldMs: Double, mergeMs: Double, probeMs: Double,
    deltasBefore: Int, deltasAfter: Int, filesWritten: Int, bytesWritten: Long,
    manifestReadMs: Double)

/** The three workloads. Each has a set-up phase (session, warm-up, any
  * starting table), a measured phase of whole rounds that runs until
  * `seconds` have passed, and an output phase that writes what the
  * oracle checks. All inputs are files staged by run.py.
  */
final class Bench(spark: SparkSession, plan: Plan, res: Result) {
  implicit private val s: SparkSession = spark
  import spark.implicits._

  private val sc = spark.sparkContext
  private val trace: Option[Trace] =
    if (plan.bool("trace")) { val t = new Trace(sc); sc.addSparkListener(t); Some(t) } else None
  private val seconds = plan.int("seconds")
  private val data = plan.str("data")
  private val out = plan.str("out")
  private val buckets = plan.int("buckets")
  // event-time lateness bound of the fold; the staged logs are time-ordered,
  // so no turn is ever late and the oracle needs no watermark rule
  private val Watermark = "10 minutes"
  private val spanSeq = new java.util.concurrent.atomic.AtomicLong

  // ---- measured-phase bookkeeping --------------------------------------
  private var measureStartNs = 0L
  private var gc0 = 0L

  private def startMeasure(): Unit = {
    res.metrics("setup_s") = (Clock.epochUs() - plan.long("t0_us")) / 1e6
    gc0 = Trace.gcMs()
    measureStartNs = System.nanoTime()
  }
  private def elapsedS: Double = (System.nanoTime() - measureStartNs) / 1e9
  private def endMeasure(): Double = {
    val secs = elapsedS
    res.metrics("spark.gc_ms") = (Trace.gcMs() - gc0).toDouble
    secs
  }

  private def latencyMetrics(samples: Seq[(Double, Long)]): Unit = {
    res.metrics("latency_p50_ms") = Stats.wpct(samples, 0.5)
    res.metrics("latency_p90_ms") = Stats.wpct(samples, 0.9)
  }

  // ---- the fold pipeline -----------------------------------------------
  private val sinkRecs = new ConcurrentLinkedQueue[SinkRec]

  /** Start the streaming fold of `srcDir` into `table`. Untraced, this is
    * exactly `Replay.fromCheckpoint`; traced, the same pipeline with the
    * sink wrapped so the fold and the merge are timed apart.
    */
  private def startFold(srcDir: String, maxFiles: Int, table: IcebergLikeTable,
      ckpt: String): StreamingQuery = {
    val turns = spark.readStream.schema(Schemas.turn)
      .option("maxFilesPerTrigger", maxFiles.toString)
      .parquet(srcDir).as[Turn]
    trace match {
      case None => Replay.fromCheckpoint(turns, table, ckpt, watermark = Watermark)
      case Some(tr) =>
        val sink: (Dataset[ConvSnapshot], Long) => Unit = tracedSink(table, tr)
        SnapshotStream.updates(turns, Watermark).writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch(sink)
          .start()
    }
  }

  private def tracedSink(table: IcebergLikeTable, tr: Trace)(
      ds: Dataset[ConvSnapshot], batchId: Long): Unit = {
    val span = s"b${spanSeq.incrementAndGet()}"
    val p0 = System.nanoTime()
    val before = Trace.listFiles(table.root)
    val deltasBefore = table.fileStats()._2
    val m0 = System.nanoTime()
    table.readManifest()
    val manifestMs = Clock.msSince(m0)
    val f0 = System.nanoTime()
    tr.within(s"fold-$span") { ds.persist(); ds.count() }
    val foldMs = Clock.msSince(f0)
    val g0 = System.nanoTime()
    tr.within(s"merge-$span") { MergeSink(table)(ds, batchId) }
    val mergeMs = Clock.msSince(g0)
    ds.unpersist()
    val q0 = System.nanoTime()
    val created = Trace.listFiles(table.root).filter { case (f, _) => !before.contains(f) }
    val deltasAfter = table.fileStats()._2
    val probeMs = (f0 - p0) / 1e6 + Clock.msSince(q0)
    sinkRecs.add(SinkRec(span, foldMs, mergeMs, probeMs, deltasBefore, deltasAfter,
      created.size, created.values.sum, manifestMs))
  }

  private def progressOf(q: StreamingQuery, fromBatch: Long): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p => p.batchId >= fromBatch && p.numInputRows > 0)

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution").toLong

  /** Per-layer metrics of the ingest layers over the batches of one phase
    * (`progs`, with their sink records `sinksAll`). Times leave out the
    * first `warm` batches; counts and bytes cover them all.
    */
  private def ingestLayers(progsAll: Seq[StreamingQueryProgress], sinksAll: Seq[SinkRec],
      shuffleBytes: Long, warm: Int = 0): Unit = trace.foreach { tr =>
    tr.drain()
    val m = res.metrics
    def mean(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    val turns = progsAll.map(_.numInputRows).sum.toDouble
    val state = progsAll.last.stateOperators
    val progs = progsAll.drop(warm)
    val sinks = sinksAll.drop(warm)
    m("snapshot.fold_ms_p50") = Stats.pct(sinks.map(_.foldMs), 0.5)
    m("snapshot.state_commit_ms_p50") =
      Stats.pct(progs.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble), 0.5)
    m("snapshot.state_rows") = state.map(_.numRowsTotal).sum.toDouble
    m("snapshot.state_mb") = state.map(_.memoryUsedBytes).sum / 1e6
    m("sink.merge_ms_p50") = Stats.pct(sinks.map(_.mergeMs), 0.5)
    m("sink.merge_ms_p90") = Stats.pct(sinks.map(_.mergeMs), 0.9)
    val compacting = sinksAll.filter(r => r.deltasAfter < r.deltasBefore)
    m("sink.compacting_merge_ms_p50") = Stats.pct(compacting.map(_.mergeMs), 0.5)
    m("sink.compacting_merges") = compacting.size.toDouble
    m("sink.commits") = sinksAll.size.toDouble
    m("store.jobs_per_commit") = mean(sinksAll.map(r => tr.jobsIn(s"merge-${r.span}").toDouble))
    m("store.tasks_per_commit") = mean(sinksAll.map(r => tr.tasksIn(s"merge-${r.span}").toDouble))
    m("store.files_written_per_commit") = mean(sinksAll.map(_.filesWritten.toDouble))
    m("store.bytes_written_per_turn") = sinksAll.map(_.bytesWritten).sum / turns
    m("store.manifest_read_ms_p50") = Stats.pct(sinks.map(_.manifestReadMs), 0.5)
    m("replay.offset_log_ms_p50") =
      Stats.pct(progs.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")), 0.5)
    val overhead = progs.map(p => dur(p, "latestOffset") + dur(p, "getBatch") + dur(p, "queryPlanning"))
    m("spark.trigger_overhead_ms_p50") = Stats.pct(overhead, 0.5)
    m("spark.trigger_ms_p50") = Stats.pct(progs.map(dur(_, "triggerExecution")), 0.5)
    m("spark.shuffle_write_bytes_per_turn") = shuffleBytes / turns
    // ingest accounting: Spark's own trigger phases plus the timed fold,
    // merge and trace probe, against Spark's trigger wall time
    val explained = overhead.sum +
      progs.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum +
      sinks.map(r => r.foldMs + r.mergeMs + r.probeMs).sum
    m("trace.ingest_explained_pct") = 100.0 * explained / progs.map(dur(_, "triggerExecution")).sum
  }

  private def takeSinks(): Seq[SinkRec] = {
    val b = ArrayBuffer.empty[SinkRec]
    while (!sinkRecs.isEmpty) b += sinkRecs.poll()
    b.toSeq
  }

  private def shuffleNow(): Long = trace.map { t => t.drain(); t.shuffleWriteBytes.get }.getOrElse(0L)

  // ---- outputs the oracle checks -----------------------------------------
  private def writeState(table: IcebergLikeTable, dir: String,
      progs: Seq[StreamingQueryProgress]): Unit = {
    Io.writeLines(s"$dir/table.tsv", table.read().collect().iterator.map(Canon.row))
    Io.writeLines(s"$dir/lineage.tsv", table.lineage().groupBy(col("batch_id"))
      .agg(sum(col("row_count")), count(lit(1))).collect().iterator
      .map(r => s"${r.getLong(0)}\t${r.getLong(1)}"))
    Io.writeLines(s"$dir/batches.tsv", progs.iterator.map(p => s"${p.batchId}\t${p.numInputRows}"))
  }

  // ---- ingest_trickle ------------------------------------------------------
  def trickle(): Unit = {
    val src = plan.str("src_dir")
    val pending = new File(plan.str("pending_dir")).listFiles.map(_.toPath).sortBy(_.getFileName.toString)
    val roundFiles = plan.int("round_files")
    val prefix = plan.int("prefix_files")
    val table = new IcebergLikeTable(s"$data/table", buckets)
    val q = startFold(src, 1, table, s"$data/ckpt")
    val samples = ArrayBuffer.empty[(Double, Long)]
    var turns = 0L
    var measuredS = 0.0
    var shuffle0 = 0L
    try {
      q.processAllAvailable() // folds the warm prefix: JIT and table warm-up
      require(progressOf(q, 0).size == prefix, s"warm prefix folded in ${progressOf(q, 0).size} batches")
      takeSinks()
      shuffle0 = shuffleNow()
      startMeasure()
      var next = 0
      var rounds = 0
      while (next + roundFiles <= pending.length && (rounds == 0 || elapsedS < seconds)) {
        for (_ <- 0 until roundFiles) {
          val f = pending(next)
          val batchId = (prefix + next).toLong
          next += 1
          res.attempted += 1
          val released = System.currentTimeMillis()
          Files.move(f, Paths.get(src, f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
          q.processAllAvailable()
          progressOf(q, batchId).find(_.batchId == batchId) match {
            case Some(p) =>
              samples += ((endMs(p) - released).toDouble -> p.numInputRows)
              turns += p.numInputRows
            case None => res.failed += 1
          }
        }
        rounds += 1
      }
      measuredS = endMeasure()
      res.notes("rounds") = rounds.toString
    } finally q.stop()
    val progs = progressOf(q, 0)
    res.metrics("work_per_s") = turns / measuredS
    latencyMetrics(samples.toSeq)
    res.metrics("store_mb") = Trace.bytesUnder(table.root) / 1e6
    ingestLayers(progs.drop(prefix), takeSinks(), shuffleNow() - shuffle0)
    writeState(table, out, progs)
    trace.foreach(_ => readProbe(table, src))
  }

  // ---- ingest_backlog ------------------------------------------------------
  def backlog(): Unit = {
    val logDir = plan.str("log_dir")
    val perTrigger = plan.int("files_per_trigger")
    val maxRounds = plan.int("max_rounds")
    def round(dir: String, name: String): (IcebergLikeTable, Long, Seq[StreamingQueryProgress]) = {
      val table = new IcebergLikeTable(s"$data/$name/table", buckets)
      val start = System.currentTimeMillis()
      val q = startFold(dir, perTrigger, table, s"$data/$name/ckpt")
      try q.processAllAvailable() finally q.stop()
      (table, start, progressOf(q, 0))
    }
    round(plan.str("warm_dir"), "warm") // JIT warm-up on a smaller log
    takeSinks()
    val shuffle0 = shuffleNow()
    startMeasure()
    val samples = ArrayBuffer.empty[(Double, Long)]
    val done = ArrayBuffer.empty[(IcebergLikeTable, Seq[StreamingQueryProgress])]
    var turns = 0L
    while (done.size < maxRounds && (done.isEmpty || elapsedS < seconds)) {
      val (table, start, progs) = round(logDir, s"r${done.size}")
      res.attempted += plan.int("batches")
      res.failed += math.max(0, plan.int("batches") - progs.size)
      progs.foreach { p =>
        samples += ((endMs(p) - start).toDouble -> p.numInputRows)
        turns += p.numInputRows
      }
      done += (table -> progs)
    }
    val measuredS = endMeasure()
    res.notes("rounds") = done.size.toString
    res.metrics("work_per_s") = turns / measuredS
    latencyMetrics(samples.toSeq)
    res.metrics("store_mb") = Trace.bytesUnder(done.last._1.root) / 1e6
    ingestLayers(done.flatMap(_._2).toSeq, takeSinks(), shuffleNow() - shuffle0)
    done.zipWithIndex.foreach { case ((t, progs), i) => writeState(t, s"$out/r$i", progs) }
    trace.foreach { _ =>
      readProbe(done.last._1, logDir)
      compactionProbe(done.last._1, logDir, perTrigger, s"$data/r${done.size - 1}/ckpt")
    }
  }

  // ---- serve_replay --------------------------------------------------------
  def serve(): Unit = {
    val buildDir = plan.str("build_dir")
    val table = new IcebergLikeTable(s"$data/table", buckets,
      retainManifests = plan.int("retain_manifests"))
    val shuffle0 = shuffleNow()
    val q = startFold(buildDir, 1, table, s"$data/ckpt")
    try q.processAllAvailable() finally q.stop()
    val progs = progressOf(q, 0)
    // the first batch of a fresh JVM is its warm-up: kept out of the times
    ingestLayers(progs, takeSinks(), shuffleNow() - shuffle0, warm = 1)
    writeState(table, out, progs)
    val turns = spark.read.schema(Schemas.turn).parquet(buildDir).as[Turn]
    val api = new ServeApi(Map("turns" -> ServeApi.Target(table)))
    val port = api.start()
    try {
      val runner = new OpsRunner(table, port, turns)
      runner.round(readOps(plan.str("warm_ops")), keep = false)
      val ops = readOps(plan.str("ops"))
      startMeasure()
      var rounds = 0
      while (rounds == 0 || elapsedS < seconds) { runner.round(ops, keep = true); rounds += 1 }
      val measuredS = endMeasure()
      res.notes("rounds") = rounds.toString
      res.attempted = runner.attempted
      res.failed = runner.failed
      res.metrics("work_per_s") = runner.attempted / measuredS
      latencyMetrics(runner.getMs.map(_ -> 1L).toSeq)
      res.metrics("store_mb") = Trace.bytesUnder(table.root) / 1e6
      runner.writeOutputs(s"$out/ops")
      runner.layers()
    } finally api.stop()
    compactionProbe(table, buildDir, 1, s"$data/ckpt")
  }

  /** Traced runs whose own phase has no compacting merge (the backlog's
    * rounds and the serve table's build are shorter than a compaction
    * cycle) fold tiny extra files into the same table, one commit each,
    * until a merge compacts. Runs after every checked output is written.
    */
  private def compactionProbe(table: IcebergLikeTable, srcDir: String, perTrigger: Int,
      ckpt: String): Unit = trace.foreach { _ =>
    val extra = new File(plan.str("extra_dir")).listFiles.map(_.toPath)
      .sortBy(_.getFileName.toString).grouped(perTrigger).toList
    val q = startFold(srcDir, perTrigger, table, ckpt)
    val recs = ArrayBuffer.empty[SinkRec]
    try {
      q.processAllAvailable()
      takeSinks()
      val it = extra.iterator
      while (it.hasNext && !recs.exists(r => r.deltasAfter < r.deltasBefore)) {
        it.next().foreach(f => Files.move(f, Paths.get(srcDir, f.getFileName.toString),
          StandardCopyOption.ATOMIC_MOVE))
        q.processAllAvailable()
        recs ++= takeSinks()
      }
    } finally q.stop()
    val compacting = recs.filter(r => r.deltasAfter < r.deltasBefore)
    res.metrics("sink.compacting_merge_ms_p50") = Stats.pct(compacting.map(_.mergeMs).toSeq, 0.5)
    res.notes("compaction_probe_commits") = recs.size.toString
  }

  /** Traced ingest runs measure the read layers on the table they built:
    * a short fixed request list over the serving facade and the replay
    * entry points (serve_replay measures them in its measured phase).
    */
  private def readProbe(table: IcebergLikeTable, turnsDir: String): Unit = {
    val api = new ServeApi(Map("turns" -> ServeApi.Target(table)))
    val port = api.start()
    try {
      val runner = new OpsRunner(table, port, spark.read.schema(Schemas.turn).parquet(turnsDir).as[Turn])
      val ops = readOps(plan.str("probe_ops"))
      // five untimed lookups first: the ingest phase never warmed this path
      runner.round(ops.filter(_._1 == "get").take(5), keep = false)
      runner.round(ops, keep = true)
      runner.writeOutputs(s"$out/probe")
      runner.layers()
    } finally api.stop()
  }

  private def readOps(path: String): Seq[(String, String)] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t", 2); k -> v
    }.toList finally src.close()
  }

  /** One closed-loop client over the serving facade and replay entry
    * points. Op kinds: `get <key>`, `dump -`, `inc <b>`, `changes <b>`,
    * `asof <b>`, `tots <epoch ms>`; a negative batch counts back from the
    * last committed batch.
    */
  final class OpsRunner(table: IcebergLikeTable, port: Int, turns: Dataset[Turn]) {
    private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val manager = new DumpManager
    private val lastBatch = table.readManifest().lastBatchId
    var attempted = 0L
    var failed = 0L
    val getMs = ArrayBuffer.empty[Double]
    private val replayMs = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    private val gets = ArrayBuffer.empty[String]
    private val replays = ArrayBuffer.empty[(String, String, Seq[String])]
    // traced only
    private val storeMs = ArrayBuffer.empty[Double]
    private val routeMs = ArrayBuffer.empty[Double]
    private val filesPerLookup = ArrayBuffer.empty[Double]
    private val jobsPerLookup = ArrayBuffer.empty[Double]

    private def http(path: String): (Int, String, Double) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
      val t0 = System.nanoTime()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode, r.body, Clock.msSince(t0))
    }

    private def batch(p: String): Long = { val b = p.toLong; if (b < 0) lastBatch + b else b }

    def round(ops: Seq[(String, String)], keep: Boolean): Unit = ops.foreach { case (kind, p) =>
      if (keep) attempted += 1
      try {
        if (kind == "get") get(p, keep)
        else {
          val t0 = System.nanoTime()
          val rows = replay(kind, p)
          val ms = Clock.msSince(t0)
          if (keep) {
            replayMs.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
            replays += ((kind, if (kind == "dump") p else if (kind == "tots") p else batch(p).toString, rows))
          }
        }
      } catch {
        case NonFatal(e) =>
          if (keep) failed += 1
          System.err.println(s"[perfbench] $kind $p failed: $e")
      }
    }

    private def get(key: String, keep: Boolean): Unit = {
      val tr = trace.filter(_ => keep)
      // traced: a ping first keeps the lookup back to back with the previous
      // response on the connection, as every lookup of the untraced loop is
      tr.foreach(_ => http("/health/ping"))
      val (code, body, ms) = http(s"/snapshots/turns/entities/$key")
      if (code != 200 && code != 404) throw new IllegalStateException(s"HTTP $code: $body")
      if (keep) {
        getMs += ms
        gets += s"$key\t$code\t$body"
      }
      tr.foreach { t =>
        // the facade alone (no store work), back to back like the lookup
        routeMs += http("/health/ping")._3
        // the store call the route makes, on this thread
        val span = s"lookup-${spanSeq.incrementAndGet()}"
        val d0 = System.nanoTime()
        val df = table.lookup(table.keyCol, key)
        t.within(span)(df.toJSON.collect())
        storeMs += Clock.msSince(d0)
        filesPerLookup += df.inputFiles.length
        t.drain()
        jobsPerLookup += t.jobsIn(span)
      }
    }

    private def replay(kind: String, p: String): Seq[String] = {
      def spanned[A](body: => A): A =
        trace.fold(body)(_.within(s"$kind-${spanSeq.incrementAndGet()}")(body))
      kind match {
        case "dump" =>
          val acc = sc.collectionAccumulator[String]("dump")
          spanned(DumpService.runDump(manager, "turns", table, Bench.publisher(acc)))
          acc.value.asScala.toSeq
        case "inc" =>
          val acc = sc.collectionAccumulator[String]("inc-dump")
          spanned(DumpService.runIncrementalDump(manager, "turns", table, batch(p), Bench.publisher(acc)))
          acc.value.asScala.toSeq
        case "changes" => spanned(table.readChangesSince(batch(p)).collect()).map(Canon.row).toSeq
        case "asof" => spanned(table.readAsOf(batch(p)).collect()).map(Canon.row).toSeq
        case "tots" =>
          spanned(Replay.toTimestamp(turns, new Timestamp(p.toLong)).collect()).map(Canon.row).toSeq
        case other => throw new IllegalArgumentException(s"unknown op $other")
      }
    }

    def writeOutputs(dir: String): Unit = {
      Io.writeLines(s"$dir/gets.tsv", gets.iterator)
      Io.writeLines(s"$dir/replays.tsv", replays.iterator.flatMap { case (k, p, rows) =>
        Iterator.single(s"#\t$k\t$p") ++ rows.iterator })
    }

    def layers(): Unit = trace.foreach { _ =>
      val m = res.metrics
      def mean(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
      m("store.lookup_ms_p50") = Stats.pct(storeMs.toSeq, 0.5)
      m("store.lookup_ms_p90") = Stats.pct(storeMs.toSeq, 0.9)
      m("store.files_per_lookup") = mean(filesPerLookup.toSeq)
      m("store.jobs_per_lookup") = mean(jobsPerLookup.toSeq)
      m("store.live_files") = table.readManifest().dataFiles.size.toDouble
      m("store.manifest_kb") = Files.size(Paths.get(table.root, "manifest.json")) / 1024.0
      Seq("dump" -> "replay.dump_ms_p50", "inc" -> "replay.incremental_dump_ms_p50",
        "changes" -> "replay.changes_since_ms_p50", "asof" -> "replay.as_of_ms_p50",
        "tots" -> "replay.to_timestamp_ms_p50").foreach { case (k, name) =>
        m(name) = Stats.pct(replayMs.getOrElse(k, ArrayBuffer.empty[Double]).toSeq, 0.5)
      }
      m("serve.route_overhead_ms_p50") =
        Stats.pct(getMs.zip(storeMs).map { case (h, d) => h - d }.toSeq, 0.5)
      m("serve.ping_ms_p50") = Stats.pct(routeMs.toSeq, 0.5)
      // serve accounting: independently timed route (ping) + store lookup
      // against the wall time of the HTTP lookup they explain
      m("trace.serve_explained_pct") = 100.0 * (routeMs.sum + storeMs.sum) / getMs.sum

    }
  }
}

object Bench {
  /** Dump publisher collecting the published keys (runs on executors). */
  def publisher(acc: CollectionAccumulator[String]): Iterator[String] => Unit =
    it => it.foreach(acc.add)
}

/** One snapshot row as a tab-separated line the oracle compares against:
  * key, last turn (idx, role, tool, text), turn count, tool histogram
  * (`tool:n` sorted by tool, `-` where the read does not carry it) and the
  * first and last ts in epoch ms.
  */
object Canon {
  def row(r: Row): String = {
    val names = r.schema.fieldNames
    val tools =
      if (!names.contains("tool_counts")) "-"
      else r.getMap[String, Long](r.fieldIndex("tool_counts")).toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k:$v" }.mkString(",")
    Seq(r.getAs[String]("conv_id"), r.getAs[Int]("last_turn_idx"), r.getAs[String]("last_role"),
      r.getAs[String]("last_tool"), r.getAs[String]("last_text"), r.getAs[Long]("turn_count"),
      tools, r.getAs[Timestamp]("first_ts").getTime, r.getAs[Timestamp]("last_ts").getTime)
      .mkString("\t")
  }
}
