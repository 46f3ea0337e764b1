package graft

import org.apache.spark.sql.functions._

/** Diagnostic main: PQ codebook training depth vs quantization quality.
  *
  * For each Lloyd step count T, trains codebooks from scratch
  * ([[graft.operators.Similarity.pqCodebooks]] with `steps = T`), encodes the
  * corpus, and prints corpus MSE (the mean squared quantization error the
  * ADC noise floor is made of) plus full-ADC recall@3 against the exact L2
  * top-3 — one row per T, no stores touched. This is the measurement behind
  * the fixed `PqLloydSteps` constant (VERDICT r11 item 4: "push recall with
  * MEASURED training depth"): the chosen depth is the MSE plateau, recorded
  * in PLANS.md. Full-ADC recall isolates quantization loss; the registered
  * q203 additionally folds in coarse-cluster pruning loss.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.PqTrainRig [maxSteps]"
  */
object PqTrainRig {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val maxSteps = args.headOption.map(_.toInt).getOrElse(8)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.Similarity

    val corpus = Engine.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // exact L2 top-3 of the 16 fixed probes — the recall baseline
    val exact3 = Similarity.l2Knn(spark, sfDir).filter(col("rn") <= 3)
      .select(col("qid"), col("vid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    (0 to maxSteps).foreach { t =>
      val (_, cb, _) = Similarity.pqCodebooks(corpus, steps = t)
      val codes = Similarity.pqEncodeAgainst(corpus, cb).localCheckpoint()
      val mse = codes.agg((sum(col("d2")) / count(lit(1))).as("mse"))
        .head.getDouble(0)
      // full-ADC top-3 per probe (no coarse pruning: quantization loss only)
      val probes = corpus.filter(col("vec_id").between(0, 15))
        .select(col("vec_id").as("qid"),
          posexplode(Similarity.subVecsColPub(col("embedding"))).as(Seq("j", "qsub")))
      val dtable = probes.join(broadcast(cb), Seq("j"))
        .select(col("qid"), col("j"), col("code"),
          expr("graft_sqdist(qsub, csub)").as("qd2"))
      val adc = codes.select(col("vec_id").as("vid"), col("j"), col("code"))
        .join(broadcast(dtable), Seq("j", "code"))
        .filter(col("qid") =!= col("vid"))
        .groupBy(col("qid"), col("vid"))
        .agg(sum(col("qd2")).as("adc0"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(round(col("adc0"), 9).asc, col("vid"))
      val adc3 = adc.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("qid"), col("vid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact3 & adc3).size.toDouble / exact3.size
      println(f"steps=$t%d mse=$mse%.6f adc_recall_at_3=$recall%.4f")
    }

    // Phase 2: the nprobe dial on the registered IVFADC probe (q200 pins
    // nprobe=1), decomposing q203's recall into its two losses: the
    // COARSE CEILING (fraction of exact top-3 neighbors inside the probed
    // clusters — no code quality can recover a neighbor outside them) and
    // in-cluster ADC precision (recall / ceiling).
    val (cents, assign) = Similarity.corpusIvfIndex(spark, sfDir)
    val vidCid = assign.select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(1, 2, 4, 8, 16).foreach { np =>
      spark.conf.set("spark.graft.ivfpq.nprobe", np.toString)
      try {
        val got = Similarity.ivfPqProbe(spark, sfDir).select(col("qid"), col("vid"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = (exact3 & got).size.toDouble / exact3.size
        // probed clusters per qid: top-np centroids by cosine (the probe's
        // own first stage, mirrored)
        val qa0 = assign.filter(col("vec_id").between(0, 15))
          .select(col("vec_id").as("qid"), col("embedding").as("vemb"),
            col("nrm").as("nv"))
        val qcos = qa0.join(broadcast(
            cents.select(col("cid"), col("embedding").as("qemb"), col("nc"))))
          .withColumn("cosim0",
            expr("graft_dot(vemb, qemb)") / (col("nc") * col("nv")))
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cosim0").desc, col("cid"))
        val probed = qcos.withColumn("rnp", row_number().over(wq))
          .filter(col("rnp") <= np).select(col("qid"), col("cid")).collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        val ceiling = exact3.count { case (q, v) =>
          probed.getOrElse(q, Set.empty).contains(vidCid(v)) }.toDouble / exact3.size
        println(f"nprobe=$np%d ivfadc_recall_at_3=$recall%.4f coarse_ceiling=$ceiling%.4f")
      } finally spark.conf.unset("spark.graft.ivfpq.nprobe")
    }
    spark.stop()
  }
}
