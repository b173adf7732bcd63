package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Engine, Memo, SparkEntry}
import graft.pipeline.Pipeline

/** The benchmark's client: one JVM, one `local[cores]` session, one thread
  * issuing ops in a closed loop (the next op starts when the previous one
  * returns). It writes its raw record (setup time, every iteration and op
  * with its digest, and in a traced run the span file) as JSON; `run.py`
  * turns that record into metrics and checks the digests.
  *
  * Arguments, as `--key value`: `workload` (pipeline, graph_iter or
  * query_mix), `seed`, `seconds`, `trace` (0 or 1), `data` (input tables),
  * `work` (scratch directory), `out` (record path), `cores`, `spans` (span
  * file of a traced run) and, for the line workloads, `substrates` and
  * `lines` (comma-separated `SparkEntry` names).
  *
  * Set-up is the JVM and the session alone: the timed iterations are the
  * first ones in the JVM, as in a batch run of the pipeline, which pays its
  * cold JIT and code generation every time. An untraced run then runs whole
  * iterations until `seconds` have passed. A traced run runs one traced
  * iteration (the per-layer picture of an untraced run's iteration), then
  * untraced, traced and untraced ones: later iterations run warmer, so the
  * tracing overhead is the traced one against the mean of the pair.
  */
object Main {

  final case class OpRecord(name: String, module: String, startMs: Long, endMs: Long,
      seconds: Double, ok: Boolean, error: String, digest: String)

  final case class IterRecord(index: Int, traced: Boolean, startMs: Long, endMs: Long,
      seconds: Double, storagePeakBytes: Long, memoPeak: Int, ops: Seq[OpRecord])

  /** Samples the block manager's RDD storage (the Memo and Lineage
    * checkpoints and pins) every 100 ms and at each op end; [[take]] returns
    * the peak since the previous call.
    */
  final class StorageSampler(spark: SparkSession) {
    private val peak = new AtomicLong(0)
    private val memo = new AtomicInteger(0)
    @volatile private var running = true
    def sample(): Unit = {
      val now = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      peak.accumulateAndGet(now, (a, b) => math.max(a, b))
      memo.accumulateAndGet(Memo.totalEntries, (a, b) => math.max(a, b))
    }
    private val thread = new Thread(() => {
      while (running) {
        try sample() catch { case _: Throwable => () }
        Thread.sleep(100)
      }
    })
    thread.setDaemon(true)
    thread.start()
    def take(): (Long, Int) = { sample(); (peak.getAndSet(0), memo.getAndSet(0)) }
    def stop(): Unit = { running = false; thread.join() }
  }

  /** Which `SparkEntry` module defines each query or substrate name. */
  private lazy val moduleOf: Map[String, String] = {
    import graft.queries._
    val modules: Seq[QueryModule] = Seq(Aggregations, JoinsSetOps, WindowsFiltersSorts, TextOps,
      Vectors, Dedup, TextAnalysis, GraphQueries, Nested, IOQueries, Multimodal,
      PipelineQueries, Events, TemporalQueries, Curation)
    modules.flatMap { m =>
      val name = m.getClass.getSimpleName.stripSuffix("$")
      (m.queries.keys ++ m.substrates.map(_._1)).map(_ -> name)
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed     = a("seed").toLong
    val seconds  = a("seconds").toDouble
    val traced   = a("trace") == "1"
    val data     = a("data")
    val work     = a("work")
    val cores    = a("cores")

    val spark = Engine.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // storage and Memo sampling belong to the traced run
    val sampler = if (traced) Some(new StorageSampler(spark)) else None
    val outDir  = s"$work/pipeline_out"
    val trace   = if (traced) Some(new Trace(spark, outDir)) else None

    def timeOp(name: String, module: String)(body: => String): OpRecord = {
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (ok, err, digest) =
        try { val d = body; (true, "", d) }
        catch { case e: Throwable => (false, e.toString.take(300), "") }
      val secs = (System.nanoTime() - t0) / 1e9
      OpRecord(name, module, s0, System.currentTimeMillis(), secs, ok, err, digest)
    }

    def collectDigest(df: DataFrame): String = Digest.of(df.collect().toSeq)

    // One iteration of the workload; `pass` seeds the consumer order.
    val iteration: Int => Seq[OpRecord] = workload match {
      case "pipeline" =>
        _ => Seq(timeOp("pipeline", "Pipeline") {
          val (counts, report) = Pipeline.run(spark, data, outDir)
          val checks = report.collect().toSeq
          counts.map { case (k, n) => s"$k=$n" }.mkString(";") + "|" +
            checks.map(r => s"${r.getString(0)}=${r.getBoolean(2)}").mkString(";") + "|" +
            Digest.of(checks)
        })
      case "graph_iter" | "query_mix" =>
        val substrates = SparkEntry.substrates.toMap
        val queries    = SparkEntry.queries
        def names(key: String) = a.get(key).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
        val subs  = names("substrates").map(n => (n, substrates(n)))
        val lines = names("lines").map(n => (n, queries(n)))
        pass => {
          val order = new scala.util.Random(seed * 1000003L + pass).shuffle(lines)
          (subs ++ order).map { case (n, fn) =>
            val rec = timeOp(n, moduleOf(n))(collectDigest(fn(spark, data)))
            sampler.foreach(_.sample())
            rec
          }
        }
      case other => sys.error(s"unknown workload $other")
    }

    var index = 0
    def runIteration(isTraced: Boolean): IterRecord = {
      Memo.clearAll()
      sampler.foreach(_.take())
      if (isTraced) trace.foreach(_.attach())
      val s0  = System.currentTimeMillis()
      val t0  = System.nanoTime()
      val ops = iteration(index)
      val secs = (System.nanoTime() - t0) / 1e9
      val s1  = System.currentTimeMillis()
      if (isTraced) trace.foreach(_.detach())
      val (peak, memo) = sampler.fold((0L, 0))(_.take())
      index += 1
      IterRecord(index - 1, isTraced, s0, s1, secs, peak, memo, ops)
    }

    val setupEndMs = System.currentTimeMillis()

    val iters = Seq.newBuilder[IterRecord]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    if (!traced) {
      do iters += runIteration(isTraced = false) while (elapsed < seconds)
    } else {
      iters += runIteration(isTraced = true)
      iters += runIteration(isTraced = false)
      iters += runIteration(isTraced = true)
      iters += runIteration(isTraced = false)
    }
    val all = iters.result()

    val spansPath = trace.map { t =>
      val p = Paths.get(a("spans"))
      val iterSpans = all.filter(_.traced).map(i =>
        Span(s"iter:${i.index}", "run", "iteration", s"iteration ${i.index}", i.startMs, i.endMs,
          Map("seconds" -> i.seconds)))
      val opSpans = all.filter(_.traced).flatMap(i => i.ops.zipWithIndex.map { case (o, k) =>
        Span(s"op:${i.index}.$k", s"iter:${i.index}", "op", o.name, o.startMs, o.endMs,
          Map("module" -> o.module, "seconds" -> o.seconds, "ok" -> o.ok))
      })
      t.write(p, iterSpans ++ opSpans)
      p.toString
    }

    def op(o: OpRecord) = Map("name" -> o.name, "module" -> o.module, "start_ms" -> o.startMs,
      "end_ms" -> o.endMs, "seconds" -> o.seconds, "ok" -> o.ok, "error" -> o.error,
      "digest" -> o.digest)
    val record = Map(
      "workload" -> workload,
      "seed" -> seed,
      "cores" -> cores.toInt,
      "traced" -> traced,
      "setup_end_ms" -> setupEndMs,
      "spans" -> spansPath.orNull,
      "iterations" -> all.map(i => Map(
        "index" -> i.index, "traced" -> i.traced, "start_ms" -> i.startMs, "end_ms" -> i.endMs,
        "seconds" -> i.seconds, "storage_peak_bytes" -> i.storagePeakBytes,
        "memo_peak" -> i.memoPeak, "ops" -> i.ops.map(op))))
    Files.write(Paths.get(a("out")), Json.value(record).getBytes("UTF-8"))
    sampler.foreach(_.stop())
    spark.stop()
  }
}
