package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.SparkEntry
import graft.functions.{LshSigsEval, TextFns, VecDotEval}
import graft.operators.{Physical, TextPipeline}
import graft.sources.{Sinks, Tables}
import graft.streaming.StreamingOps
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run in one fresh JVM: set up, run the workload's
  * operations in a closed loop (one client, each operation issued after
  * the previous one returns) for at least `--seconds`, and write every
  * operation's record to `--result` as JSON. Output correctness is
  * judged by the caller (run.py) from the files this writes under
  * `<run-dir>/out` and the checks recorded in the result.
  *
  * Untraced runs time each operation and nothing else. Traced runs
  * alternate untraced and traced passes; in a traced pass they register
  * a [[LayerListener]], time each layer call separately and record
  * spans. After the timed passes they make direct calls into single
  * layers.
  *
  * Usage: Harness --workload W --input DIR --run-dir DIR --seconds S
  *        --trace 0|1 --cpus N --min-ops N --result FILE
  */
object Harness {

  /** The query mix, SQL part: TPC-H-like queries, a SQL-text entry
    * point and a `*_bound` check that must return no rows. Their cost is
    * the per-query fixed floor (construction-time jobs, planning,
    * scheduling) rather than data. */
  val SqlQueries: Seq[String] = Seq(
    "tpch_q2ish", "tpch_q6ish", "tpch_q13ish", "grouping_sets", "sql_entry_ngrams",
    "approx_quantiles_bound")

  /** The query mix, dedup part: index-backed queries over `documents`
    * (corpus fingerprints, MinHash signatures). */
  val LlmQueries: Seq[String] = Seq("dedup_incremental", "minhash_near_dup_pairs")

  val QueryMix: Seq[String] = SqlQueries ++ LlmQueries
  /** Untimed passes before the timed ones: the first is each query's
    * cold run, and query latencies still fall over the next. */
  val QueryWarmPasses = 2

  val NgramN = 3
  val NgramParts = 7
  val NgramWarmJobs = 8

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a("input"), runDir, a("seconds").toDouble, a("min-ops").toInt,
      a("trace") == "1")
    run.result("session_ready_ms") = System.currentTimeMillis()
    try a("workload") match {
      case "ngram_corpus" => run.ngramCorpus()
      case "query_mix" => run.queryMix()
      case "event_stream" => run.eventStream()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      run.result("peak_rss_mb") = peakRssMb()
      run.result("ops") = run.ops
      run.result("checks") = run.checks
      Files.writeString(Paths.get(a("result")), Json.render(run.result))
      if (run.trace) Files.writeString(Paths.get(a("result") + ".spans.json"),
        Json.render(run.tracer.spans.map(s => Map(
          "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "parent" -> s.parent, "op" -> s.op, "query" -> s.query))))
      spark.stop()
    }
  }

  /** High-water resident set of this JVM, from the kernel. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

final class Run(spark: SparkSession, input: String, runDir: Path,
                seconds: Double, minOps: Int, val trace: Boolean) {
  val result = mutable.LinkedHashMap.empty[String, Any]
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val tracer = new Tracer
  private val listener = new LayerListener
  private val out = runDir.resolve("out")
  private var opId = 0
  /** Whether the current operation is traced. */
  private var tracing = false

  private def snap(): Map[String, Long] = {
    ListenerDrain(spark.sparkContext)
    listener.snapshot()
  }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def lastSpanS: Double = {
    val s = tracer.spans.last
    (s.endNs - s.startNs) / 1e9
  }
  private def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Executor-side counters of one action, from two listener snapshots. */
  private def execLayers(c0: Map[String, Long], c1: Map[String, Long],
                         wallS: Double): Map[String, Any] = {
    val d = c1.map { case (k, v) => k -> (v - c0(k)) }
    val runS = d("task_run_ms") / 1e3
    val cores = spark.sparkContext.defaultParallelism
    Map("exec.jobs" -> d("exec.jobs"), "exec.stages" -> d("exec.stages"),
      "exec.tasks" -> d("exec.tasks"), "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> d("task_cpu_ns") / 1e9, "exec.gc_s" -> d("gc_ms") / 1e3,
      "exec.core_util" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "exec.shuffle_write_bytes" -> d("exec.shuffle_write_bytes"),
      "exec.shuffle_read_bytes" -> d("exec.shuffle_read_bytes"),
      "exec.spill_bytes" -> d("exec.spill_bytes"),
      "exec.input_bytes" -> d("exec.input_bytes"))
  }

  /** Runs `body` with the listener registered. */
  private def listening[T](body: => T): T = {
    spark.sparkContext.addSparkListener(listener)
    try body finally {
      ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Times one operation; a thrown error fails the operation. */
  private def op(name: String, pass: Int)
                (body: Int => Map[String, Any]): Unit = {
    if (!result.contains("first_op_ms")) result("first_op_ms") = System.currentTimeMillis()
    val id = opId
    opId += 1
    val t0 = System.nanoTime()
    val rec = try body(id) + ("ok" -> true)
    catch { case NonFatal(e) =>
      Map("ok" -> false, "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    ops += (Map("op" -> id, "name" -> name, "pass" -> pass, "traced" -> tracing,
      "latency_s" -> rec.getOrElse("latency_s", secs(t0))) ++ rec)
  }

  /** Pushes the shuffle, aggregate, join, window and sort paths through
    * the JIT before anything is timed, as graft.Bench does. */
  private def warmJit(): Unit = {
    val base = spark.range(1 << 17).selectExpr("id", "id % 997 AS k",
      "CAST(id % 7919 AS DOUBLE) AS v", "concat('s', id % 1013) AS s")
    val agg = base.groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("c"))
    noop(base.join(agg, "k").orderBy(col("sv").desc, col("id")))
  }

  /** Closed loop: passes until at least `minOps` operations have run
    * and `seconds` have gone by; a traced run makes at least two. */
  private def passes(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var p = 0
    while (ops.size < minOps || secs(t0) < seconds || (trace && p < 2)) {
      pass(p)
      p += 1
    }
    result("measured_s") = secs(t0)
    result("passes") = p
  }

  /** Runs `body` as slot `i` of pass `p`. A traced run traces every
    * other slot, alternating between passes, so traced and untraced
    * operations interleave and the tracing overhead is measured in one
    * JVM on the same inputs. */
  private def slot(p: Int, i: Int)(body: => Unit): Unit = {
    tracing = trace && (p + i) % 2 == 1
    try if (tracing) listening(body) else body
    finally tracing = false
  }

  // ---------------------------------------------------------------- queries

  /** `query_mix`: untimed warm-up passes, then timed passes, each
    * query once per pass in a fixed order, construction through a
    * collect of every row. The first warm-up pass is each query's first
    * run in the JVM: class loading, code generation and the index
    * artifact builds. Each operation's rows are hashed off the clock, so the
    * caller can require every pass to equal the first timed one, whose
    * rows are written to parquet after the passes for the oracle check. */
  def queryMix(): Unit = {
    val names = Harness.QueryMix
    val q = SparkEntry.queries
    result("oracle_sql") = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    val built = listening {
      val c0 = snap()
      for (_ <- 1 to Harness.QueryWarmPasses; n <- names) {
        try q(n)(spark, input).collect()
        catch { case NonFatal(e) => check(n, ok = false, s"warm-up run failed: ${e.getMessage.take(300)}") }
      }
      snap()("index_build_ms") - c0("index_build_ms")
    }
    result("indexes.build_s") = built / 1e3
    result("indexes.artifact_bytes") = dirBytes(runDir.resolve("warehouse"))
    val checked = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    var paused = 0L
    def body(n: String) = { (id: Int) =>
      val (rows, schema, rec) = if (!tracing) {
        val t0 = System.nanoTime()
        val df = q(n)(spark, input)
        val rows = df.collect()
        (rows, df.schema, Map[String, Any]("latency_s" -> secs(t0)))
      } else tracer.span("op", -1, id, n) { root =>
        val c0 = snap()
        val df = tracer.span("operators.construct", root, id, n)(_ => q(n)(spark, input))
        val constructS = lastSpanS
        val c1 = snap()
        tracer.span("catalyst.plan", root, id, n)(_ => df.queryExecution.executedPlan)
        val planS = lastSpanS
        val c2 = snap()
        val rows = tracer.span("exec.action", root, id, n)(_ => df.collect())
        val actionS = lastSpanS
        val c3 = snap()
        (rows, df.schema, Map("latency_s" -> (constructS + planS + actionS),
          "operators.construct_s" -> constructS,
          "operators.construct_jobs" -> (c1("exec.jobs") - c0("exec.jobs")),
          "catalyst.plan_s" -> planS, "exec.action_s" -> actionS) ++
          execLayers(c2, c3, actionS))
      }
      val t1 = System.nanoTime()
      if (!checked.contains(n)) checked(n) = (rows, schema)
      val sha = rowsSha256(rows)
      paused += System.nanoTime() - t1
      rec + ("out_sha256" -> sha)
    }
    passes(p => names.zipWithIndex.foreach { case (n, i) => slot(p, i)(op(n, p)(body(n))) })
    result("paused_s") = paused / 1e9
    checked.foreach { case (n, (r, schema)) =>
      spark.createDataFrame(r.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(n).toString)
    }
    if (trace) {
      listening(sourceProbes())
      llmProbes()
    }
  }

  /** SHA-256 over the rows' text forms, in order. */
  private def rowsSha256(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Direct calls into the sources layer: `Tables.apply` for each table,
    * then one `Tables.registerViews`. */
  private def sourceProbes(): Unit = {
    val c0 = snap()
    val t0 = System.nanoTime()
    tracer.span("sources.tables_apply", -1, -1, "") { root =>
      Tables.names.foreach(t => tracer.span(s"sources.tables_apply.$t", root, -1, t)(_ =>
        Tables(spark, input, t)))
    }
    result("sources.tables_apply_s") = secs(t0)
    val c1 = snap()
    val t1 = System.nanoTime()
    tracer.span("sources.register_views", -1, -1, "")(_ => Tables.registerViews(spark, input))
    result("sources.register_views_s") = secs(t1)
    val c2 = snap()
    result("sources.tables_apply_jobs") = c1("exec.jobs") - c0("exec.jobs")
    result("sources.register_views_jobs") = c2("exec.jobs") - c1("exec.jobs")
  }

  /** Artifact adoption and the LSH and vector kernels, measured by
    * direct calls after the timed passes of a traced run. Adoption: a
    * new session (empty query memo) after dropping the artifacts from
    * the catalog, so each query's construction re-registers the
    * artifacts from disk; the adoption cost is that construction's
    * excess over a construction of the same query in the session that
    * already holds them. */
  private def llmProbes(): Unit = {
    val q = SparkEntry.queries
    def constructAll(s: SparkSession): Seq[Double] = Harness.LlmQueries.map { n =>
      val t0 = System.nanoTime()
      try q(n)(s, input) catch { case NonFatal(_) => () }
      secs(t0)
    }
    val steady = constructAll(spark)
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_idx_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val fresh = spark.newSession()
    val adopt = tracer.span("indexes.adopt", -1, -1, "query_mix")(_ => constructAll(fresh))
    result("indexes.adopt_s") = adopt.zip(steady).map { case (a, s) => math.max(0.0, a - s) }.sum

    val emb = Tables.embeddings(spark, input)
      .select(col("embedding").cast("array<double>").as("v")).cache()
    val rows = emb.count().toDouble
    val dim = 64
    val (nPlanes, nTables) = (8, 4)
    val rnd = new scala.util.Random(7)
    val planes = Array.fill(nPlanes * nTables * dim)(rnd.nextGaussian())
    def rate(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      tracer.span(name, -1, -1, "query_mix")(_ => body)
      rows / secs(t0)
    }
    result("functions.lsh_sigs_rows_per_s") = (1 to 3).map(_ => rate("functions.lsh_sigs")(
      noop(emb.select(LshSigsEval(col("v"), planes, nPlanes, nTables))))).sorted.apply(1)
    result("functions.vec_dot_rows_per_s") = (1 to 3).map(_ => rate("functions.vec_dot")(
      noop(emb.select(VecDotEval(col("v"), col("v")))))).sorted.apply(1)
    emb.unpersist()
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  // ---------------------------------------------------------------- n-grams

  /** `ngram_corpus`: the reference job as graft.WordCount composes it:
    * wholetext read, n-gram count, first-character range placement into
    * 7 parts, per-part sort, TSV sink. Untimed warm-up jobs come first;
    * the first one's output is kept for the full check. Each timed job's
    * output is hashed (so the caller can require it to equal the checked
    * one) and deleted, off the clock. */
  def ngramCorpus(): Unit = {
    def job(): DataFrame = TextPipeline.ngramCountUnsorted(
      spark.read.option("wholetext", "true").text(input), "value", Harness.NgramN)
      .repartition(Harness.NgramParts, Physical.referencePlacement(col("ngram"), Harness.NgramParts))
      .sortWithinPartitions("ngram")
    warmJit()
    // the first warm-up job's output is kept for the full check; the
    // rest bring the JIT to a steady state before anything is timed
    try (0 until Harness.NgramWarmJobs).foreach { i =>
      val dst = out.resolve(if (i == 0) "warm" else s"warm$i")
      Sinks.writeTsv(job(), dst.toString)
      if (i > 0) deleteTree(dst)
    } catch { case NonFatal(e) =>
      check("ngram_job", ok = false, s"warm-up job failed: ${e.getMessage.take(300)}")
    }
    val corpusMb = dirBytes(Paths.get(input)) / 1e6
    result("corpus_mb") = corpusMb
    val cached =
      if (trace) Some(spark.read.option("wholetext", "true").text(input).cache())
      else None
    cached.foreach(_.count())
    var paused = 0L
    passes(pass => slot(pass, 0) {
      val dst = out.resolve(s"op$pass")
      op("ngram_job", pass) { id =>
        val rec: Map[String, Any] = if (!tracing) {
          val t0 = System.nanoTime()
          Sinks.writeTsv(job(), dst.toString)
          Map("latency_s" -> secs(t0))
        } else tracer.span("op", -1, id, "ngram_job") { root =>
          val df = tracer.span("operators.construct", root, id, "ngram_job")(_ => job())
          val constructS = lastSpanS
          tracer.span("catalyst.plan", root, id, "ngram_job")(_ => df.queryExecution.executedPlan)
          val planS = lastSpanS
          val c0 = snap()
          tracer.span("sources.sink_write", root, id, "ngram_job")(_ => Sinks.writeTsv(df, dst.toString))
          val writeS = lastSpanS
          val c1 = snap()
          Map("latency_s" -> (constructS + planS + writeS),
            "operators.construct_s" -> constructS, "catalyst.plan_s" -> planS,
            "exec.action_s" -> writeS, "sources.sink_write_s" -> writeS,
            "sources.sink_bytes" -> dirBytes(dst)) ++ execLayers(c0, c1, writeS)
        }
        val t1 = System.nanoTime()
        val extra: Map[String, Any] = Map("out_sha256" -> partsSha256(dst)) ++
          cached.filter(_ => tracing).map { c =>
          val t2 = System.nanoTime()
          val n = tracer.span("functions.ngrams", -1, id, "ngram_job")(_ =>
            c.select(sum(size(TextFns.ngrams(col("value"), Harness.NgramN)))).head().getLong(0))
          Map("functions.ngrams_mb_per_s" -> corpusMb / secs(t2), "functions.ngrams_count" -> n)
        }.getOrElse(Map.empty)
        deleteTree(dst)
        paused += System.nanoTime() - t1
        rec ++ extra
      }
    })
    result("paused_s") = paused / 1e9
    cached.foreach(_.unpersist())
  }

  /** SHA-256 over the job's part files in name order. */
  private def partsSha256(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.list(dir)
    val parts = try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString) finally s.close()
    parts.foreach(p => md.update(Files.readAllBytes(p)))
    md.digest().map("%02x".format(_)).mkString
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  // ---------------------------------------------------------------- streaming

  /** `event_stream`: the event files replayed as a backlog with
    * Trigger.AvailableNow, one file per micro-batch, through three
    * queries in turn (tumbling counts and session counts in complete
    * mode, the watermark dedup in append mode). An operation is one
    * micro-batch. Every timed pass's sinks are compared with the same
    * StreamingOps functions applied to the batch read of the events. A
    * stream that fails counts as one failed operation. */
  def eventStream(): Unit = {
    val kinds = Seq(
      ("tumbling", "complete", StreamingOps.tumblingCounts _),
      ("session", "complete", StreamingOps.sessionCounts _),
      ("dedup", "append", StreamingOps.dedupStream _))
    val anchorNs = System.nanoTime()
    val anchorMs = System.currentTimeMillis()
    def progressNs(p: StreamingQueryProgress): Long =
      anchorNs + (java.time.Instant.parse(p.timestamp).toEpochMilli - anchorMs) * 1000000L
    def instantS(s: String): Double = java.time.Instant.parse(s).toEpochMilli / 1e3

    // (kind, memory sink) of every timed stream that completed
    val sinks = mutable.ArrayBuffer.empty[(String, String)]
    def runOnce(dir: String, tag: String, pass: Int, kind: String, mode: String,
                fn: DataFrame => DataFrame): Unit = {
      val name = s"pb_${kind}_$tag"
      val timed = tag != "warm"
      val traced = tracing
      if (timed && !result.contains("first_op_ms")) result("first_op_ms") = System.currentTimeMillis()
      val c0 = if (traced) snap() else Map.empty[String, Long]
      val ran = try {
        val q = fn(StreamingOps.readEventsStream(spark, dir, 1)).writeStream
          .format("memory").queryName(name).outputMode(mode)
          .option("checkpointLocation", runDir.resolve("checkpoints").resolve(name).toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        Right(q.recentProgress.filter(_.numInputRows > 0).toSeq)
      } catch { case NonFatal(e) => Left(e) }
      ran match {
        case Left(e) if timed => op(s"stream_$kind", pass)(_ => throw e)
        case Left(e) => check(s"stream_$kind", ok = false, s"warm-up stream failed: ${e.getMessage.take(300)}")
        case Right(_) if !timed =>
        case Right(progress) =>
          sinks += kind -> name
          val c1 = if (traced) snap() else Map.empty[String, Long]
          // micro-batches run on the stream's own thread, so the listener
          // counts are split evenly over the query's batches
          val perBatchExec =
            if (traced) execLayers(c0, c1, progress.map(_.durationMs.get("triggerExecution").toLong).sum / 1e3)
              .map { case (k, v) => k -> (v match {
                case l: Long => l.toDouble / progress.size
                case d: Double if k == "exec.core_util" => d
                case d: Double => d / progress.size
              }) }
            else Map.empty[String, Any]
          progress.foreach { p =>
            def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.toLong / 1e3).getOrElse(0.0)
            op(s"stream_$kind", pass) { id =>
              val lat = ms("triggerExecution")
              if (traced) {
                val start = progressNs(p)
                tracer.record(s"streaming.batch.$kind", start, start + (lat * 1e9).toLong, id, name)
              }
              val ev = p.eventTime.asScala
              Map("latency_s" -> lat, "rows" -> p.numInputRows,
                "streaming.add_batch_s" -> ms("addBatch"),
                "streaming.planning_s" -> ms("queryPlanning"),
                "streaming.wal_commit_s" -> ms("walCommit"),
                "streaming.state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
                "streaming.state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
                "streaming.watermark_lag_s" -> (for (mx <- ev.get("max"); wm <- ev.get("watermark"))
                  yield instantS(mx) - instantS(wm)).getOrElse(0.0)) ++ perBatchExec
            }
          }
      }
    }

    warmJit()
    kinds.foreach { case (kind, mode, fn) =>
      runOnce(runDir.resolve("warm_events").toString, "warm", -1, kind, mode, fn)
    }
    passes(pass => kinds.zipWithIndex.foreach { case ((kind, mode, fn), i) =>
      slot(pass, i)(runOnce(input, s"p$pass", pass, kind, mode, fn))
    })
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val batch = Tables.events(spark, input + "/batch")
    // dropDuplicatesWithinWatermark is stream-only; on a batch with
    // exact duplicate rows its answer is dropDuplicates on the key
    val want = kinds.map { case (kind, _, fn) =>
      kind -> rows(if (kind == "dedup") batch.dropDuplicates("event_id") else fn(batch))
    }.toMap
    sinks.foreach { case (kind, name) =>
      val (g, w) = (rows(spark.table(name)), want(kind))
      val (extra, missing) = (g.diff(w).size, w.diff(g).size)
      check(s"stream_$kind", extra == 0 && missing == 0,
        s"$name: ${g.size} rows streamed, $extra not in the batch answer, $missing missing")
    }
  }
}
