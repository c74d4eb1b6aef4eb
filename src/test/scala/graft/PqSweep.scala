package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** One-off X83 operating-point sweep (r13: the PQ recall floor must sit
  * at measured−margin ≥ 0.6 at every SF, but the r12 default
  * m=8/k=16/rerank=64 measures 0.4625 at sf0.1). Prints mean top-10
  * recall vs the exact scan per (m, kCodes, rerank) combo. Run:
  *   sbt "Test/runMain graft.PqSweep /root/testdata/sf0.1"
  */
object PqSweep {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()

    args.foreach { d =>
      println(s"=== $d ===")
      val emb = graft.sources.Tables.embeddings(spark, d)
      val exact = Similarity.cosineTopK(emb, 8, 10).select("q_id", "vec_id")
      for {
        m <- Seq(8, 16)
        kCodes <- Seq(16, 32)
        rerank <- Seq(64, 128, 256)
      } {
        val ap = Similarity.pqTopK(emb, 8, 10, m = m, kCodes = kCodes, rerank = rerank)
        val r = exact.join(ap.select(col("q_id"), col("vec_id"), lit(1).as("hit")),
            Seq("q_id", "vec_id"), "left")
          .groupBy("q_id").agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("r"))
          .agg(avg("r")).head.getDouble(0)
        println(f"  m=$m%-2d kCodes=$kCodes%-2d rerank=$rerank%-3d mean_recall=$r%.4f")
      }
    }
    spark.stop()
  }
}
