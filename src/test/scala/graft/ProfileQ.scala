package graft

import org.apache.spark.scheduler._

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Dev tool (optimization rounds): per-query breakdown under the SAME
  * session config as graft.Bench — wall time per run, plus per-stage
  * task counts / executor run time / shuffle bytes from a listener, so
  * "where does the time go" is answered empirically (guide §1/§7), not
  * guessed. Per query: construct, optionally dump the formatted plan,
  * run once untimed IN PLACE (`df.queryExecution.toRdd.count()`, so the
  * FINAL adaptive plan of that same QueryExecution is readable — a sink
  * write would execute a copy), then time PROFILE_REPS noop-sink runs.
  * A query that throws is reported and the sweep moves on.
  *
  *   query args       — names to profile; none = the whole sorted registry
  *   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS — as Bench
  *   PROFILE_REPS     — timed reps after the untimed run (default 2);
  *                      0 = plan only, nothing executes
  *   PROFILE_PLAN_DIR — if set, write <dir>/<query>.txt (formatted plan)
  *                      and, when the query executes, <dir>/<query>.final.txt
  *                      (final adaptive plan after the untimed run)
  *   PROFILE_CONF     — "k=v;k2=v2" session conf overrides
  *
  * Invocations:
  *   stage breakdown: sbt "Test/runMain graft.ProfileQ math_functions json_functions"
  *   wall time only:  PROFILE_REPS=1 sbt "Test/runMain graft.ProfileQ tpch_q18ish"
  *   registry plans:  PROFILE_REPS=0 PROFILE_PLAN_DIR=plans/new sbt "Test/runMain graft.ProfileQ"
  *   final AQE plan:  PROFILE_REPS=1 PROFILE_PLAN_DIR=/tmp/p sbt "Test/runMain graft.ProfileQ doc_bigram_surprise"
  */
object ProfileQ {
  private final case class StageRow(id: Int, name: String, tasks: Int,
                                    execRunMs: Long, cpuMs: Long,
                                    shufReadB: Long, shufWriteB: Long,
                                    inputB: Long, durMs: Long,
                                    gcMs: Long, spillB: Long)

  def main(args: Array[String]): Unit = {
    // PROFILE_CONF="k=v;k2=v2" — A/B a candidate config without a code
    // change (guide §1: measure before shipping any conf into Bench).
    // Core/static confs are read from system properties when the context
    // starts; runtime SQL confs are set afterwards, over the factory's.
    val overrides = sys.env.get("PROFILE_CONF").map(_.trim).filter(_.nonEmpty)
      .map(_.split(";").filter(_.contains("=")).toSeq)
      .getOrElse(Nil)
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        System.err.println(s"[profile] conf override: ${k.trim}=${v.trim}")
        k.trim -> v.trim
      }
    overrides.foreach { case (k, v) => sys.props(k) = v }
    val spark = Session.local()
    overrides.foreach { case (k, v) => if (spark.conf.isModifiable(k)) spark.conf.set(k, v) }
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("PROFILE_REPS", "2").toInt
    val planDir = sys.env.get("PROFILE_PLAN_DIR").map { dir =>
      Files.createDirectories(Paths.get(dir))
    }
    def writePlan(file: String, txt: String): Unit =
      planDir.foreach(p => Files.write(p.resolve(file), txt.getBytes("UTF-8")))

    val stages = mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(90),
            si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead,
            si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
            m.jvmGCTime, m.memoryBytesSpilled)
        }
      }
    }

    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val fn = SparkEntry.queries(n)
        val df = fn(spark, d)
        writePlan(s"$n.txt", df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        if (reps == 0) println(s"[profile] $n planned")
        else {
          // untimed: codegen + index artifacts, and the final AQE plan
          df.queryExecution.toRdd.count()
          writePlan(s"$n.final.txt",
            df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
          spark.sparkContext.addSparkListener(listener)
          stages.synchronized(stages.clear())
          val walls = try (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } finally {
            Thread.sleep(500) // let the listener bus drain (private API in Spark 4)
            spark.sparkContext.removeSparkListener(listener)
          }
          println(f"[profile] $n walls=" + walls.map(w => f"$w%.3f").mkString("[", ", ", "]") +
            f" (over $reps runs)")
          val rows = stages.synchronized(stages.toVector)
          val byStage = rows.sortBy(-_.execRunMs)
          println(f"[profile]   stages=${rows.size} tasks=${rows.map(_.tasks).sum} " +
            f"execRun=${rows.map(_.execRunMs).sum}ms cpu=${rows.map(_.cpuMs).sum}ms " +
            f"shufW=${rows.map(_.shufWriteB).sum / 1024}KB in=${rows.map(_.inputB).sum / 1024}KB")
          byStage.take(8).foreach { s =>
            println(f"[profile]     stage ${s.id}%4d ${s.tasks}%3dt run=${s.execRunMs}%6dms " +
              f"cpu=${s.cpuMs}%6dms gc=${s.gcMs}%5dms spill=${s.spillB / 1024}%7dKB " +
              f"dur=${s.durMs}%5dms sw=${s.shufWriteB / 1024}%7dKB ${s.name}")
          }
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[profile] $n failed: ${e.getMessage}")
      }
    }
    planDir.foreach(p => println(s"[profile] wrote plans to $p"))
    spark.stop()
  }
}
