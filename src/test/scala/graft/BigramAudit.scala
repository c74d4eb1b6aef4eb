package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.sources.Tables

/** r14 VERDICT task 7 measurement: doc_bigram_surprise is the slowest
  * corpus query at sf1 (~7.7 s). Would serving its doc-gram table
  * (doc_id, w1, w2, cnt) from a persisted artifact — the Indexes.scala
  * pattern — beat recomputing the tokenize+explode+partial-agg, the way
  * ScanAudit (r14) decided reuse per branch? This audit measures the
  * pieces at a given fixture:
  *   A. full current query (recompute shape, ReusedExchange pinned),
  *   B. bgd BUILD alone (scan -> tokens -> bigram explode -> groupBy),
  *   C. bgd served from parquet: one-time write cost, then the rest of
  *      the query (c2/window/score/join-back/final agg) reading it.
  * Decision rule (the r14 ScanAudit rule): adopt the artifact only if
  * C's steady-state read beats B by more than the join-back's share —
  * i.e. if the query minus the build is where the time is NOT, reuse
  * loses and the verdict is recorded in the operator's scaladoc.
  * Run: SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 sbt "Test/runMain graft.BigramAudit"
  *
  * MEASURED VERDICT (sf1, r15): reuse LOSES — the artifact was never
  * the problem. A=8.01 s full query vs B=1.16 s bgd build: persisting
  * bgd could save at most ~1 s. But B+C2 (4.4 s) << A exposed the real
  * sink: the planner built the join-back's hash relation on the
  * 2.6M-row DOC-GRAM side instead of the 1,210-row distinct-gram
  * scored table. Flipping the build side (broadcast(scored),
  * TextAnalysis.scala, pinned BuildRight in PlanAuditSpec) took the
  * full query 8.0 -> 2.2 s at sf1 (1.8 -> 1.3 s at sf0.1) with zero
  * result change; no Indexes artifact added (1 s of build against a
  * 2.2 s query does not clear the ScanAudit bar, and the bench warmup
  * would hide, not remove, the cost).
  */
object BigramAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[bigram-audit] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    def bgdOf(src: org.apache.spark.sql.DataFrame) = src
      .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(
        when(size(col("t")) >= 2,
          transform(sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i).as("w1"),
              element_at(col("t"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull)
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))

    def rest(bgd: org.apache.spark.sql.DataFrame, v: org.apache.spark.sql.DataFrame) = {
      val c2 = bgd.groupBy("w1", "w2").agg(sum(col("cnt")).as("n2"))
      val byW1 = org.apache.spark.sql.expressions.Window.partitionBy("w1")
      val scored = c2.withColumn("n1", sum(col("n2")).over(byW1))
        .crossJoin(broadcast(v))
        .select(col("w1"), col("w2"),
          round(log((col("n2").cast("double") + lit(1)) / (col("n1") + col("nv"))), 9)
            .cast(org.apache.spark.sql.types.DecimalType(20, 9)).as("term"))
      bgd.join(scored, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_bigrams"),
          round(sum(col("term") * col("cnt").cast(org.apache.spark.sql.types.DecimalType(10, 0)))
            .cast("double") / sum(col("cnt")), 6).as("avg_logprob"))
        .orderBy("doc_id")
    }

    val docs = Tables.documents(spark, d)
    val toksV = docs.select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      .select(explode(col("t")).as("tok")).agg(countDistinct(col("tok")).as("nv"))

    // warm: JIT + page cache
    SparkEntry.queries("doc_bigram_surprise")(spark, d)
      .write.format("noop").mode("overwrite").save()

    // A: full current query
    time("A full-query (recompute shape)") {
      SparkEntry.queries("doc_bigram_surprise")(spark, d)
        .write.format("noop").mode("overwrite").save()
    }
    // B: bgd build alone
    time("B bgd-build-only") {
      bgdOf(docs).write.format("noop").mode("overwrite").save()
    }
    // C1: one-time artifact write
    val art = s"/tmp/bigram_audit_bgd"
    time("C1 bgd-parquet-write (one-time)") {
      bgdOf(docs).write.mode("overwrite").parquet(art)
    }
    // C2: query with bgd served from parquet (vocab branch unchanged)
    time("C2 rest-of-query served from parquet bgd") {
      rest(spark.read.parquet(art), toksV)
        .write.format("noop").mode("overwrite").save()
    }
    // C2': same but vocab also recomputed is included above; show its share
    time("D vocab-branch-only") {
      toksV.write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
