package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Graph, NearDup, Similarity}
import graft.sources.Tables

/** One-off calibration probe for the r11 `*_bound` oracled queries:
  * prints the MEASURED quantities (ANN mean recalls, HLL relative
  * errors, quantile rank offsets, khop max relative error) at each
  * given sf dir, so the committed floors/cutoffs are set against data,
  * not guessed. Run:
  *   sbt "Test/runMain graft.BoundsProbe /root/testdata/sf0.001 /root/testdata/sf0.01 /root/testdata/sf0.1"
  */
object BoundsProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    import spark.implicits._

    args.foreach { d =>
      println(s"=== $d ===")
      val emb = Tables.embeddings(spark, d)
      val exact = Similarity.cosineTopK(emb, 8, 10).select("q_id", "vec_id")
      def mr(name: String, ap: org.apache.spark.sql.DataFrame): Unit = {
        val m = exact.join(ap.select(col("q_id"), col("vec_id"), lit(1).as("hit")),
            Seq("q_id", "vec_id"), "left")
          .groupBy("q_id").agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("r"))
          .agg(avg("r")).head.getDouble(0)
        println(f"  ann.$name%-4s mean_recall = $m%.4f")
      }
      mr("lsh", Similarity.annTopK(emb, 8, 10, idx = Some((spark, d))))
      mr("ivf", Similarity.ivfTopK(emb, 8, 10, idx = Some((spark, d))))
      mr("sq8", Similarity.sq8TopK(emb, 8, 10))
      mr("pq", Similarity.pqTopK(emb, 8, 10, idx = Some((spark, d))))

      val hll = Tables.lineitem(spark, d).groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("a"),
          countDistinct(col("l_partkey")).as("e"))
        .select(max(abs(col("a") - col("e")) / col("e").cast("double"))).head.getDouble(0)
      println(f"  hll max rel_err = $hll%.4f")

      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val li = Tables.lineitem(spark, d)
      val probes = li.groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"),
          array(ps.map(lit): _*), lit(10000)).as("q"))
        .select(col("l_returnflag"), posexplode(col("q")).as(Seq("i", "v")))
        .withColumn("p", element_at(array(ps.map(lit): _*), col("i") + 1))
      li.select(col("l_returnflag"), col("l_extendedprice").as("x"))
        .join(broadcast(probes), Seq("l_returnflag"))
        .groupBy("l_returnflag", "p", "v")
        .agg(sum(when(col("x") < col("v"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("x") <= col("v"), 1L).otherwise(0L)).as("le"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("p"),
          // signed distance of the rank interval from p*n, in units of n
          round(greatest(
            (col("p") * col("n") - col("le")) / col("n"),
            ((col("lt") + 1) - col("p") * col("n")) / col("n"),
            lit(0.0)), 6).as("rank_off"))
        .orderBy(desc("rank_off")).show(5, false)

      val both = Graph.all.find(_.name == "khop_2_reach_approx_bound").get
      val viol = both.fn(spark, d).count()
      val mx = khopMax(spark, d)
      println(f"  khop violations = $viol, max rel_err = $mx%.4f")

      def planted(pairs: org.apache.spark.sql.DataFrame, n: Int): Long =
        pairs.filter(col("id2") === col("id1") + 100000L && col("id1") < n).count()
      val mh = planted(NearDup.minhashPairs(
        NearDup.withPlantedDups(Tables.documents(spark, d)), 0.5,
        idx = Some((spark, d)), corpusName = "planted"), 50)
      val sh = planted(NearDup.simhashPairs(
        NearDup.withPlantedDups(Tables.documents(spark, d)), 16), 50)
      val el = planted(NearDup.embeddingNearDupLsh(
        NearDup.withPlantedEmbeddingDups(Tables.embeddings(spark, d)), 0.8,
        idx = Some((spark, d))), 40)
      println(s"  neardup planted recovered: minhash=$mh/50 simhash=$sh/50 embedding=$el/40")
    }
    spark.stop()
  }

  private def khopMax(spark: SparkSession, d: String): Double = {
    val df = graft.SparkEntry.queries("khop_2_reach")(spark, d)
      .join(graft.SparkEntry.queries("khop_2_reach_approx")(spark, d)
        .withColumnRenamed("n_2hop", "a2").select("node", "a2"), "node")
      .select(max(abs(col("a2") - col("n_2hop")) / col("n_2hop").cast("double")))
    df.head.getDouble(0)
  }
}
