package graft

import scala.util.control.NonFatal

/** Dev tool: count FileScan nodes per query's STATIC plan, flagging
  * candidates for the one-pass/AQE-reuse treatment bm25_rank got in
  * r14 (a static double-scan is only a problem when the subtrees are
  * not canonically identical — those AQE cannot dedupe at runtime, so
  * the scan genuinely runs twice). Prints name, static scan count, and
  * whether the duplicated exchanges are reuse-eligible (same canonical
  * Exchange appearing more than once).
  * Run: sbt "Test/runMain graft.ScanAudit [minScans]".
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val min = args.headOption.map(_.toInt).getOrElse(2)
    val tableRe = "FileScan parquet[^\\n]*?/([a-z_0-9]+)\\.parquet".r
    val rows = SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
      try {
        // executedPlan.toString descends into AdaptiveSparkPlanExec's
        // wrapped plan, which SparkPlan.foreach does NOT
        val df = SparkEntry.queries(n)(spark, d)
        val p =
          if (sys.env.contains("SCANAUDIT_EXEC")) {
            // runtime truth: execute THIS QueryExecution in place (a
            // sink write would execute a copy and leave this one
            // un-finalized), then read the FINAL adaptive plan —
            // ReusedExchange/ReusedQueryStage dedupe canonically equal
            // subtrees, so scans surviving here actually ran twice
            df.queryExecution.toRdd.count()
            df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
          } else df.queryExecution.executedPlan.toString
        val perTable = tableRe.findAllMatchIn(p).map(_.group(1)).toSeq
          .groupBy(identity).view.mapValues(_.size).toMap
        val repeated = perTable.filter(_._2 >= min)
        if (repeated.nonEmpty)
          Some((n, perTable.values.sum,
            repeated.toSeq.sorted.map { case (t, c) => s"$t x$c" }.mkString(", ")))
        else None
      } catch { case NonFatal(e) => println(s"[scanaudit] $n THREW: ${e.getMessage.take(80)}"); None }
    }
    rows.sortBy(-_._2).foreach { case (n, s, rep) =>
      println(f"[scanaudit] $n%-34s totalScans=$s%-3d repeated: $rep")
    }
    println(s"[scanaudit] ${rows.size} queries with a table statically scanned >= $min times")
    spark.stop()
  }
}
