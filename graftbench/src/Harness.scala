package org.apache.spark {
  /** The listener bus drain is private[spark]; the traced run needs it so
    * every span of the run is recorded before the span file is written. */
  object GraftBenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
  }
}

package graftbench {

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Engine, SparkEntry}
import graft.operators.TxLog
import graft.streaming.RetractionJoin

/** JSON for the harness's own records (Scala maps, sequences, options). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Epoch milliseconds with sub-millisecond resolution, on the same epoch
  * as the millisecond timestamps Spark's listener events carry. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans held in memory and written out once, at exit. `op` links a span
  * to the operation (query call, chunk, batch or read) that caused it. */
final class Spans {
  private val q = new ConcurrentLinkedQueue[Map[String, Any]]()
  def add(kind: String, op: String, start: Double, end: Double,
      attrs: Map[String, Any] = Map.empty): Unit =
    q.add(Map("kind" -> kind, "op" -> op, "start" -> start, "end" -> end) ++ attrs)
  def write(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try q.asScala.foreach(s => w.println(Json(s))) finally w.close()
  }
}

/** Traced run only: one span per Spark job (tagged with the job group,
  * which the harness sets to the op id) carrying its task metrics. */
final class JobListener(spans: Spans) extends SparkListener {
  private final class Acc(val group: String, val start: Long) {
    var stages, tasks, emptyTasks = 0L
    var runMs, gcMs, fetchMs, schedMs = 0L
    var inBytes, shRead, shWrite, spill, outRows = 0L
  }
  private val jobs = mutable.Map[Int, Acc]()
  private val stageJob = mutable.Map[Int, Acc]()
  private val stageSubmit = mutable.Map[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val a = new Acc(g, e.time)
    jobs(e.jobId) = a
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = a)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stageSubmit(si.stageId) = si.submissionTime.getOrElse(System.currentTimeMillis())
    stageJob.get(si.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { a =>
      a.tasks += 1
      stageSubmit.get(e.stageId).foreach(s =>
        a.schedMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        a.inBytes += m.inputMetrics.bytesRead
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        a.outRows += m.outputMetrics.recordsWritten
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
          a.emptyTasks += 1
      }
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach { a =>
      spans.add("job", a.group, a.start.toDouble, e.time.toDouble, Map(
        "stages" -> a.stages, "tasks" -> a.tasks, "empty_tasks" -> a.emptyTasks,
        "task_ms" -> a.runMs, "gc_ms" -> a.gcMs, "fetch_wait_ms" -> a.fetchMs,
        "sched_delay_ms" -> a.schedMs, "input_bytes" -> a.inBytes,
        "shuffle_read_bytes" -> a.shRead, "shuffle_write_bytes" -> a.shWrite,
        "spill_bytes" -> a.spill, "rows_written" -> a.outRows))
    }
}

/** Traced run only: Catalyst phase spans of every executed query, from
  * the query's planning tracker. Attributed to ops by time. */
final class PhaseListener(spans: Spans) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      spans.add(s"catalyst.$phase", "", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Drives one workload through the engine's public entry points and
  * writes the raw record (`result.json`) and the spans (`spans.jsonl`)
  * into the work directory; `run.py` turns them into metrics.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <workDir>
  *          <sfDir> <cores> <spawnEpochMs> [query,query,...]
  *        Harness --oracles <outFile> query,query,...
  */
object Harness {

  def main(args: Array[String]): Unit = {
    if (args(0) == "--oracles") {
      val want = args(2).split(",").toSet
      val w = new PrintWriter(args(1), "UTF-8")
      try w.print(Json(SparkEntry.oracleSql.filter(kv => want(kv._1))))
      finally w.close()
      return
    }
    val Array(workload, seedS, secondsS, traceS, workDir, sfDir, cores, spawnS) =
      args.take(8)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val work = new File(workDir).getAbsoluteFile
    val spans = new Spans
    val record = mutable.LinkedHashMap[String, Any]()

    val s0 = Clock.ms()
    val spark = Engine.session("graftbench", cores, Map(
      "spark.local.dir" -> new File(work, "spill").getPath,
      "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath,
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000"))
    spans.add("engine.session", "setup", s0, Clock.ms())
    if (traced) {
      spark.sparkContext.addSparkListener(new JobListener(spans))
      spark.listenerManager.register(new PhaseListener(spans))
    }
    try {
      workload match {
        case "stream_ingest" =>
          Stream.run(spark, seed, seconds, work, spans, record)
        case _ =>
          Batch.run(spark, sfDir, args(8).split(",").toSeq, seed, seconds,
            work, spans, record)
      }
    } finally {
      if (traced) org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      record("setup_from_spawn_s") =
        (record.getOrElse("first_op_ms", Clock.ms()).asInstanceOf[Double] -
          spawnS.toDouble) / 1000.0
      record("peak_rss_mb") = peakRssMb()
      spans.write(new File(work, "spans.jsonl"))
      val w = new PrintWriter(new File(work, "result.json"), "UTF-8")
      try w.print(Json(record)) finally w.close()
      spark.stop()
    }
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
}

/** batch_floor / batch_compute: one client in a closed loop over a fixed
  * query list. Each op is the query call plus a noop-sink write. */
object Batch {
  val WarmThreads = 3

  def run(spark: SparkSession, sfDir: String, queries: Seq[String], seed: Long,
      seconds: Double, work: File, spans: Spans,
      record: mutable.Map[String, Any]): Unit = {
    val sc = spark.sparkContext
    val fns = SparkEntry.queries
    // Warm-up pass, outside the timed window: pays JIT/codegen and
    // writes each query's result for the digest check.
    // Three client threads keep this pass short; the timed loop is
    // single-client.
    val warmErrors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    queries.map { q =>
      pool.submit(new Runnable {
        def run(): Unit = {
          sc.setJobGroup(s"warm-$q", q)
          val a = Clock.ms()
          try fns(q)(spark, sfDir).write.mode("overwrite")
            .parquet(new File(work, s"out/$q").getPath)
          catch { case e: Throwable => warmErrors.put(q, Harness.errText(e)) }
          spans.add("warm", s"warm-$q", a, Clock.ms(), Map("q" -> q))
          sc.clearJobGroup()
        }
      })
    }.foreach(_.get())
    pool.shutdown()
    val t0 = Clock.ms()
    record("first_op_ms") = t0
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Double]()
    var pass = 0
    // Whole passes only, so every run times the same multiset of ops.
    while (pass == 0 || Clock.ms() - t0 < seconds * 1000) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      val p0 = Clock.ms()
      order.foreach { q =>
        val op = s"p$pass-$q"
        sc.setJobGroup(op, op)
        val a = Clock.ms()
        var c = a
        var err: String = null
        try {
          val df = fns(q)(spark, sfDir)
          c = Clock.ms()
          df.write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable => err = Harness.errText(e) }
        val b = Clock.ms()
        sc.clearJobGroup()
        if (err == null) {
          spans.add("construct", op, a, c)
          spans.add("action", op, c, b)
        }
        spans.add("op", op, a, b, Map("q" -> q, "pass" -> pass))
        ops += Map("q" -> q, "pass" -> pass, "wall_s" -> (b - a) / 1000.0,
          "ok" -> (err == null), "error" -> Option(err))
      }
      passes += (Clock.ms() - p0) / 1000.0
      pass += 1
    }
    record("timed_s") = (Clock.ms() - t0) / 1000.0
    record("ops") = ops
    record("pass_s") = passes
    record("warm_errors") = warmErrors.asScala
  }
}

/** stream_ingest: a seeded generator feeds fixed-size parquet chunks of
  * RetractionJoin.Upd rows into a file source; the pipeline is
  * readStream -> RetractionJoin.apply -> foreachBatch ->
  * TxLog.appendIdempotent(txn = batch id), and one reader thread runs
  * TxLog.read plus an aggregate on a schedule. */
object Stream {
  // Generator dimensions (fixed: every run sees the same shape).
  val ChunkRows = 25
  val Keys = 50
  val ZipfS = 1.0
  val LiveIdsPerSide = 24
  val RetractShare = 0.25
  val LeftShare = 0.5
  // Phases. Warm-up first fills every bag to its cap (96 chunks), so the
  // join's fan-out per update is the same whatever the seed.
  val PreloadChunks = Keys * 2 * LiveIdsPerSide / ChunkRows
  val WarmChunks = PreloadChunks + 12
  val BacklogChunks = 96
  val MaxFilesPerTrigger = 24
  val SteadyChunksPerS = 8.0
  val ReadIntervalMs = 1000.0
  val DrainTimeoutMs = 60000.0

  /** Payload is a function of the id, in quarters, so every sum is exact. */
  def payload(id: Long): Double = ((id * 7919L) % 1000L) / 4.0

  final class Bag {
    val count = mutable.LinkedHashMap[Long, Int]()
    var n, p = 0.0 // sum of counts, sum of count * payload
  }

  /** The seeded update stream plus the expected aggregate after every
    * prefix of it, so each snapshot the reader sees can be checked. */
  final class Generator(seed: Long) {
    private val rnd = new java.util.Random(seed)
    private val cdf = {
      val w = (1 to Keys).map(k => 1.0 / math.pow(k, ZipfS))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t).toArray
    }
    val left = Array.fill(Keys)(new Bag)
    val right = Array.fill(Keys)(new Bag)
    private var nextId = 0L
    var netSum = 0.0     // expected sum(action) over the sink
    var weightedSum = 0.0 // expected sum(combined * action)
    val prefixNet = mutable.ArrayBuffer(0.0)
    val prefixWeighted = mutable.ArrayBuffer(0.0)

    private def key(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, Keys - 1)
    }

    /** Every bag filled to its cap, then the seeded updates. */
    def updates(): Iterator[RetractionJoin.Upd] =
      (for (k <- (0 until Keys).iterator; isLeft <- Iterator(true, false);
            _ <- (0 until LiveIdsPerSide).iterator)
        yield { nextId += 1; apply(k, isLeft, nextId, 1) }) ++
        Iterator.continually(next())

    private def next(): RetractionJoin.Upd = {
      val k = key()
      val isLeft = rnd.nextDouble() < LeftShare
      val live = (if (isLeft) left(k) else right(k)).count.keysIterator.toVector
      val (id, action) =
        if (live.nonEmpty && rnd.nextDouble() < RetractShare)
          (live(rnd.nextInt(live.size)), -1)
        else if (live.size < LiveIdsPerSide) { nextId += 1; (nextId, 1) }
        else (live(rnd.nextInt(live.size)), 1)
      apply(k, isLeft, id, action)
    }

    private def apply(k: Int, isLeft: Boolean, id: Long, action: Int): RetractionJoin.Upd = {
      val (own, other) = if (isLeft) (left(k), right(k)) else (right(k), left(k))
      val p = payload(id)
      netSum += action * other.n
      weightedSum += action * (p * other.n + other.p)
      val c = own.count.getOrElse(id, 0) + action
      if (c == 0) own.count.remove(id) else own.count(id) = c
      own.n += action
      own.p += action * p
      prefixNet += netSum
      prefixWeighted += weightedSum
      RetractionJoin.Upd(k.toLong, if (isLeft) "L" else "R", id, p, action)
    }

    /** Expected net multiplicity and weighted sum per (leftId, rightId). */
    def expectedPairs(): Map[(Long, Long), (Long, Double)] =
      (0 until Keys).iterator.flatMap { k =>
        for ((l, cl) <- left(k).count.iterator; (r, cr) <- right(k).count.iterator)
          yield (l, r) -> ((cl.toLong * cr), cl.toDouble * cr * (payload(l) + payload(r)))
      }.toMap
  }

  private val parquetSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message upd { required int64 key; required binary side (UTF8);
      |required int64 id; required double payload; required int32 action; }""".stripMargin)

  private def writeChunk(path: java.nio.file.Path, rows: Seq[RetractionJoin.Upd]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(path))
      .withType(parquetSchema).build()
    val f = new SimpleGroupFactory(parquetSchema)
    try rows.foreach { u =>
      w.write(f.newGroup().append("key", u.key).append("side", u.side)
        .append("id", u.id).append("payload", u.payload).append("action", u.action))
    } finally w.close()
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, work: File,
      spans: Spans, record: mutable.Map[String, Any]): Unit = {
    import spark.implicits._
    val staging = new File(work, "staging"); staging.mkdirs()
    val srcDir = new File(work, "source"); srcDir.mkdirs()
    val table = new File(work, "table").getPath
    val ckpt = new File(work, "checkpoint").getPath

    // Input staging: every chunk the run can use, generated up front.
    val a0 = Clock.ms()
    val gen = new Generator(seed)
    val steadyMax = math.ceil(seconds * SteadyChunksPerS).toInt + 1
    val nChunks = WarmChunks + BacklogChunks + steadyMax
    val rows = gen.updates().take(nChunks * ChunkRows).toVector
    val chunkFiles = (0 until nChunks).map(i =>
      new File(staging, f"chunk-$i%06d.parquet").toPath)
    (0 until nChunks).par.foreach(i =>
      writeChunk(chunkFiles(i), rows.slice(i * ChunkRows, (i + 1) * ChunkRows)))
    spans.add("stage_inputs", "setup", a0, Clock.ms(), Map("chunks" -> nChunks))

    // Every chunk moved in: (index, due ms, moved ms).
    val moved = new ConcurrentLinkedQueue[(Int, Double, Double)]()
    def release(i: Int, due: Double): Unit = {
      val dst = new File(srcDir, chunkFiles(i).getFileName.toString).toPath
      Files.move(chunkFiles(i), dst, StandardCopyOption.ATOMIC_MOVE)
      val t = Clock.ms()
      dst.toFile.setLastModified(t.toLong)
      moved.add((i, due, t))
    }

    // batch id -> (version committed, append start ms, append end ms)
    val commits = new java.util.concurrent.ConcurrentHashMap[Long, (Int, Double, Double)]()
    val schema = StructType(Seq(
      StructField("key", LongType), StructField("side", StringType),
      StructField("id", LongType), StructField("payload", DoubleType),
      StructField("action", IntegerType)))
    val updates = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toLong)
      .parquet(srcDir.getPath).as[RetractionJoin.Upd]
    val query = RetractionJoin(updates).toDF().writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val a = Clock.ms()
        val v = TxLog.appendIdempotent(spark, df, table, txn = s"batch-$id")
        val b = Clock.ms()
        commits.put(id, (v, a, b))
        spans.add("txlog.append", s"batch-$id", a, b, Map("version" -> v))
        ()
      }
      .option("checkpointLocation", ckpt)
      .queryName("graftbench_stream_ingest")
      .start()

    def committedRows(): Long =
      query.recentProgress.iterator.map(_.numInputRows).sum
    def awaitRows(rows: Long, timeoutMs: Double): Boolean = {
      val deadline = Clock.ms() + timeoutMs
      while (committedRows() < rows && Clock.ms() < deadline && query.isActive)
        Thread.sleep(5)
      committedRows() >= rows
    }

    def readOp(tag: String, due: Double): Map[String, Any] = {
      val sc = spark.sparkContext
      sc.setJobGroup(tag, tag)
      val a = Clock.ms()
      try {
        val v = TxLog.version(table)
        val snap = TxLog.read(spark, table, Some(v))
        val r0 = Clock.ms()
        val row = snap.agg(count(lit(1)), sum($"action".cast(LongType)),
          sum($"combined" * $"action")).head()
        val b = Clock.ms()
        spans.add("txlog.read", tag, a, r0)
        spans.add("read", tag, a, b)
        Map("due" -> due, "start" -> a, "wall_s" -> (b - a) / 1000.0, "version" -> v,
          "rows" -> row.getLong(0), "net" -> row.getLong(1).toDouble,
          "weighted" -> row.getDouble(2), "ok" -> true)
      } catch {
        case e: Throwable =>
          Map("due" -> due, "start" -> a, "wall_s" -> (Clock.ms() - a) / 1000.0,
            "ok" -> false, "error" -> Harness.errText(e))
      } finally sc.clearJobGroup()
    }

    // Warm-up: the first batches and one read pay JIT/codegen and state
    // store start-up, outside the timed window.
    Seq(0 until PreloadChunks, PreloadChunks until WarmChunks).foreach { g =>
      g.foreach(i => release(i, Clock.ms()))
      if (!awaitRows((g.last + 1).toLong * ChunkRows, DrainTimeoutMs))
        throw new IllegalStateException("stream did not commit the warm-up chunks")
    }
    readOp("read-warm", Clock.ms())

    // Catch-up: the backlog lands at once and is due at once.
    val tc0 = Clock.ms()
    record("first_op_ms") = tc0
    (WarmChunks until WarmChunks + BacklogChunks).foreach(i => release(i, tc0))
    val backlogRows = (WarmChunks + BacklogChunks).toLong * ChunkRows
    val caughtUp = awaitRows(backlogRows, DrainTimeoutMs)
    val tcEnd = Clock.ms()

    // Steady: generator and reader each on their own fixed schedule.
    val endMs = tc0 + seconds * 1000.0
    val ts0 = tcEnd
    @volatile var genLagMs = 0.0
    val generator = new Thread(() => {
      var j = 0
      var due = ts0
      while (due < endMs && WarmChunks + BacklogChunks + j < nChunks) {
        val wait = due - Clock.ms()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        release(WarmChunks + BacklogChunks + j, due)
        genLagMs = math.max(genLagMs, Clock.ms() - due)
        j += 1
        due = ts0 + j * 1000.0 / SteadyChunksPerS
      }
    }, "graftbench-generator")
    val reads = new ConcurrentLinkedQueue[Map[String, Any]]()
    val reader = new Thread(() => {
      var i = 0
      var due = ts0
      while (due < endMs) {
        val wait = due - Clock.ms()
        if (wait > 0) Thread.sleep(wait.toLong)
        reads.add(readOp(s"read-$i", due))
        i += 1
        due = ts0 + i * ReadIntervalMs
      }
    }, "graftbench-reader")
    if (caughtUp) { generator.start(); reader.start() }
    generator.join(); reader.join()
    val movedAll = moved.asScala.toVector.sortBy(_._1)
    val drained = awaitRows(movedAll.size.toLong * ChunkRows, DrainTimeoutMs)
    val tEnd = Clock.ms()
    query.stop()

    // Outside the timed window: per-batch progress, the chunk -> batch
    // map, and the correctness checks.
    val progress = query.recentProgress.toVector.filter(_.numInputRows > 0)
      .sortBy(_.batchId)
    val batches = progress.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      val st = p.stateOperators
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val c = Option(commits.get(p.batchId))
      spans.add("batch", s"batch-${p.batchId}", start,
        start + d.getOrElse("triggerExecution", 0L), Map("rows" -> p.numInputRows))
      Map("id" -> p.batchId, "start" -> start, "rows" -> p.numInputRows,
        "duration_ms" -> d,
        "state_update_ms" -> st.map(_.allUpdatesTimeMs).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> st.map(_.memoryUsedBytes).sum,
        "version" -> c.map(_._1), "append_start" -> c.map(_._2),
        "append_end" -> c.map(_._3))
    }
    val chunks = movedAll.map { case (i, due, at) =>
      Map("i" -> i, "due" -> due, "moved" -> at,
        "phase" -> (if (i < WarmChunks) "warm" else if (i < WarmChunks + BacklogChunks)
          "backlog" else "steady"))
    }

    // Exactly-once: one committed version per batch, txn ids = batch ids.
    val version = TxLog.version(table)
    val txns = TxLog.txns(table)
    val exactlyOnce = version + 1 == commits.size &&
      txns == commits.keySet().asScala.map(id => s"batch-$id").toSet
    // Final snapshot against the generator's own bags.
    val snap = TxLog.read(spark, table)
    val releasedRows = movedAll.size * ChunkRows
    val pairRows = snap.groupBy($"leftId", $"rightId")
      .agg(sum($"action".cast(LongType)).as("n"), sum($"combined" * $"action").as("w"))
      .filter($"n" =!= 0 || $"w" =!= 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // The generator bags were advanced through every staged chunk;
    // replay only the released prefix for the final expectation.
    val finalGen = new Generator(seed)
    finalGen.updates().take(releasedRows).foreach(_ => ())
    val pairsOk = pairRows == finalGen.expectedPairs()
    val badCombined = snap.filter($"combined" =!=
      (pmod($"leftId" * 7919L, lit(1000L)) / 4.0 + pmod($"rightId" * 7919L, lit(1000L)) / 4.0))
      .count()
    val sinkRows = snap.count()

    record("phases") = Map("catchup_start" -> tc0, "catchup_end" -> tcEnd,
      "steady_start" -> ts0, "steady_end" -> endMs, "drained_at" -> tEnd)
    record("caught_up") = caughtUp
    record("drained") = drained
    record("chunk_rows") = ChunkRows
    record("backlog_chunks") = BacklogChunks
    record("chunks") = chunks
    record("batches") = batches
    record("reads") = reads.asScala.toVector.map { r =>
      // the reader's snapshot must match the generator's prefix total
      val ok = r("ok") == true && {
        val v = r("version").asInstanceOf[Int]
        val rowsIn = progress.takeWhile(p => Option(commits.get(p.batchId))
          .exists(_._1 <= v)).map(_.numInputRows).sum.toInt
        rowsIn <= releasedRows && r("net") == gen.prefixNet(rowsIn) &&
          r("weighted") == gen.prefixWeighted(rowsIn)
      }
      r + ("ok" -> ok)
    }
    record("gen_lag_max_s") = genLagMs / 1000.0
    record("exactly_once") = exactlyOnce
    record("pairs_ok") = pairsOk
    record("bad_combined_rows") = badCombined
    record("sink_rows") = sinkRows
    record("txlog_version") = version
    record("timed_s") = (tEnd - tc0) / 1000.0
  }
}

}
