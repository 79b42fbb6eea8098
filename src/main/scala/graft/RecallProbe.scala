package graft

import org.apache.spark.sql.functions._

/** Diagnostic main: measure each ANN variant's true per-query recall@10
  * vs the brute top-10 at a given SF dir — the numbers the
  * [[graft.similarity.SimilarityOps]] recall-gate thresholds are set
  * from (thresholds must sit BELOW the measured minimum with margin at
  * every SF the gate runs at: sf0.001 for specs, sf0.01 for the driver).
  * Usage: runMain graft.RecallProbe <sfDir>
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // sections: comma list of lsh/knn/ivf/range (default all). The x30
    // floor check (VERDICT r10 ask #4) runs `knn` alone — the full 3x3
    // dial sweep at x30 would pay ~9 graph joins for dials already
    // rejected at x10.
    val sections = args.lift(1).map(_.split(",").toSet)
      .getOrElse(Set("lsh", "knn", "ivf", "range"))
    def on(s: String) = sections.contains(s)
    val spark = GraftSession("graft-recall-probe")
    // GRAFT_PROBE_AMPLIFY=k: probe the k-fold amplified corpus (the
    // ScalingBench amplifier — within-replica similarity preserved,
    // cross-replica destroyed) instead of the raw dir.
    // GRAFT_PROBE_CLUSTERED="cells:n": probe the deterministic CLUSTERED
    // fixture instead (ScalingBench.clusteredEmbeddings) — the
    // production-geometry counterpoint to the amplifier's uniform
    // worst case; takes precedence over AMPLIFY.
    val scratch = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", "/tmp/graft_probe")
    val dir = sys.env.get("GRAFT_PROBE_CLUSTERED") match {
      case Some(spec) =>
        val Array(cells, n) = spec.split(":").map(_.trim.toLong)
        val out = s"$scratch/clustered_c${cells}_n$n"
        ScalingBench.clusteredEmbeddings(spark, out, n, cells.toInt)
        out
      case None => sys.env.get("GRAFT_PROBE_AMPLIFY").map(_.toInt) match {
        case Some(k) if k > 1 =>
          val out = s"$scratch/x$k"
          ScalingBench.amplify(spark, baseDir, out, k)
          out
        case _ => baseDir
      }
    }
    import graft.similarity.SimilarityOps
    val truth = SimilarityOps.bruteTruthForProbe(spark, dir)
      .select(col("query_id"), col("vec_id"), lit(true).as("in_brute"))
      .cache()

    def report(tag: String, ranked: org.apache.spark.sql.DataFrame,
        against: org.apache.spark.sql.DataFrame = truth): Unit = {
      val hits = ranked.join(against, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(when(col("in_brute"), 1).otherwise(0)).as("hits"),
          max(when(col("rank") === 1, col("vec_id"))).as("top1"))
        .select(col("query_id"), col("hits"),
          (col("top1") === col("query_id") - graft.similarity.SimilarityOps.PlantedIdOffset).as("top1_ok"))
        .collect()
      val recalls = hits.map(_.getLong(1) * 10)
      println(f"[$tag%12s] queries=${hits.length} recall%%: " +
        f"min=${recalls.min} p10=${recalls.sorted.apply(recalls.length / 10)} " +
        f"mean=${recalls.sum / recalls.length} " +
        f"top1_fails=${hits.count(!_.getBoolean(2))}")
    }

    if (on("lsh")) report("lsh", SimilarityOps.annTopkLshRanked(spark, dir))
    // kNN-graph join: its truth is the GRAPH (self excluded, twins are
    // legitimate neighbors), not the base-corpus serve truth above.
    // Sweep the probe-cell count — the candidate stream is linear in it,
    // so each step prices its recall directly. GRAFT_PROBE_KNN_DIALS
    // ("p:div,p:div") narrows the sweep — the x30 floor check probes the
    // adopted dials only.
    if (on("knn")) try {
      // each dial is "probe:div:cap"; an empty field (or a bare "::")
      // leaves that prop unset, i.e. probes the ADAPTIVE default
      val dials = sys.env.get("GRAFT_PROBE_KNN_DIALS")
        .map(_.split(",").toSeq.map { s =>
          val parts = s.split(":", -1).map(_.trim).toSeq
          def f(i: Int) = parts.lift(i).filter(_.nonEmpty).map(_.toInt)
          (f(0), f(1), f(2))
        })
        .getOrElse(for (p <- Seq(3, 4, 6); div <- Seq(50, 20, 10))
          yield (Some(p), Some(div), None: Option[Int]))
      for ((p, div, cap) <- dials) {
        def setOrClear(k: String, v: Option[Int]): Unit =
          v.fold[Unit] { sys.props.remove(k); () } (x => sys.props(k) = x.toString)
        setOrClear("graft.knn.probe.cells", p)
        setOrClear("graft.knn.shortlist.div", div)
        setOrClear("graft.knn.shortlist.cap", cap)
        def show(o: Option[Int]) = o.map(_.toString).getOrElse("auto")
        report(s"knn p${show(p)} d${show(div)} c${show(cap)}",
          SimilarityOps.knnRankedForProbe(spark, dir),
          SimilarityOps.knnTruthForProbe(spark, dir)
            .select(col("query_id"), col("vec_id"), lit(true).as("in_brute")))
      }
    } finally {
      sys.props.remove("graft.knn.probe.cells")
      sys.props.remove("graft.knn.shortlist.div")
      sys.props.remove("graft.knn.shortlist.cap")
    }
    // Sweep the IVF probe fraction (1/4 default, 1/8, 1/16): per-query
    // serve cost is ~n/denom, so every doubling of denom that HOLDS the
    // recall floors halves the dominant serving term. The index build is
    // denom-independent (cached), so the sweep isolates the search dial.
    // try/finally: the property steers the REGISTERED gated queries too,
    // so an exception mid-sweep must not leave the rest of the JVM
    // serving at 1/16 probes (recall floors were measured at 1/4)
    if (on("ivf")) try {
      for (denom <- Seq(4, 8, 16)) {
        sys.props("graft.ivf.probe.denom") = denom.toString
        report(s"ivf 1/$denom", SimilarityOps.annTopkIvfRanked(spark, dir))
        report(s"ivfpq 1/$denom", SimilarityOps.annTopkIvfPqRanked(spark, dir))
      }
      // the same IVF+PQ index persisted and served from the store (the
      // ann_index_serve path), at the default probe fraction
      sys.props.remove("graft.ivf.probe.denom")
      val store = s"$scratch/ann_index"
      graft.sources.AnnIndexStore.write(spark, dir, store)
      report("index_serve", graft.sources.AnnIndexStore.serve(spark, dir, store))
    } finally sys.props.remove("graft.ivf.probe.denom")

    // Range search (cos >= tau ball): found is a SUBSET of true (exact
    // verification), so recall is a count ratio — report per-query and
    // the micro-average the registered gate floors on.
    if (on("range")) {
      val nf = SimilarityOps.rangeScoredForProbe(spark, dir)
        .groupBy("query_id").agg(count(lit(1)).as("nf"))
      val nt = SimilarityOps.rangeTruthForProbe(spark, dir)
        .groupBy("query_id").agg(count(lit(1)).as("nt"))
      // LEFT from truth, found coalesced to 0 (ADVICE r10 #2): a query
      // whose search returns nothing must report recall 0 here, not drop
      // out of the min/mean/micro the registered floor is set from
      val rows = nt.join(nf, Seq("query_id"), "left")
        .select(col("nt"), coalesce(col("nf"), lit(0L)).as("nf")).collect()
        .map(r => (r.getLong(1), r.getLong(0)))
      if (rows.isEmpty) println("[       range] queries=0 (no sampled queries)")
      else {
        val per = rows.map { case (f, t) => f * 100 / t }
        val micro = rows.map(_._1).sum * 100 / rows.map(_._2).sum
        println(f"[       range] queries=${rows.length} " +
          f"true_sizes: min=${rows.map(_._2).min} max=${rows.map(_._2).max} " +
          f"recall%%: min=${per.min} mean=${per.sum / per.length} micro=$micro")
      }
    }
    spark.stop()
  }
}
