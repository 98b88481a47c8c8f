package graft

import org.apache.spark.sql.functions._

/** Routed-E-step operating curve (the [[AnnCurve]] discipline applied
  * to the two-level k-means assignment): for one corpus and one K,
  * measure routed-vs-flat assignment agreement and distance-eval work
  * across the probe count P — the curve behind the K-adaptive
  * default (Clustering.adaptiveProbes), like recall/nprobe for IVF.
  * Isotropic corpora are routing's WORST case (no similarity gap, so
  * every branch boundary is contested); clustered real corpora sit
  * above this curve.
  *
  *   sbt "runMain graft.RouteCurve [dir] [k] [trainMode] [probes...]"
  *
  * One JSON line per probe point on stdout. `trainMode` (join|routed,
  * default join) picks how the centroids are TRAINED before the curve
  * measures assignment against them: join isolates pure routing error
  * on exactly-trained centroids; routed measures the production
  * configuration, whose assignments are self-consistent with the
  * hierarchy and agree substantially more (measured — see SCALE.md).
  * Either way the agreement baseline is the exact flat argmin on the
  * SAME centroids.
  */
object RouteCurve {
  def main(args: Array[String]): Unit = {
    val dirArg = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(160)
    val trainMode = args.lift(2).getOrElse("join")
    require(Set("join", "routed")(trainMode),
      s"trainMode must be join|routed, got $trainMode")
    // "auto" as a probe token resolves to the K-adaptive default
    // (Clustering.adaptiveProbes) so the curve marks the point the
    // routed paths actually use at this K.
    val probeArgs = if (args.length > 3) args.drop(3).toSeq
                    else Seq("1", "2", "3", "4", "6", "8", "auto")
    val probes = probeArgs.map {
      case "auto" => ops.Clustering.adaptiveProbes(k)
      case i => i.toInt
    }.distinct.sorted
    val s = Local.session(defaultCpus = "32", periodicGcMin = 2)
    // "clustered:<mult>:<nclusters>" generates a ScaleGen clustered
    // tier from sf0.1 on the fly — the contrast point for the
    // isotropic-is-worst-case claim (the AnnCurve clustered-tier
    // precedent).
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir = dirArg.split(":") match {
      case Array("clustered", m, c) =>
        ScaleGen.generate(s, src,
          s"target/scale_curve/cl${c}_x$m", m.toInt, clusters = c.toInt)
      // embeddings-only isotropic tier — the x1000 decade's spelling
      // (r17 verdict #5): the curve reads vectors alone, so the fact
      // tables' 1000-way replication is skipped
      case Array("iso", m) =>
        ScaleGen.generate(s, src,
          s"target/scale_curve/iso_x$m", m.toInt, embedOnly = true)
      case _ => dirArg
    }
    val b = ops.Clustering.base(s, dir)
    val n = b.count()
    val cents = ops.Clustering.trainHistory(b, k, ops.Clustering.Iters,
      if (trainMode == "join") ops.Clustering.assignJoin
      else ops.Clustering.assignRouted).last
    val flat = ops.Clustering.assignJoin(b, cents)
      .select(col("vec_id"), col("cid").as("cf")).localCheckpoint(true)
    for (p <- probes) {
      val routed = ops.Clustering.assignRouted(b, cents, p)
        .select(col("vec_id"), col("cid").as("cr"))
      val agree = flat.join(routed, "vec_id")
        .filter(col("cf") === col("cr")).count()
      val evals = ops.Clustering.routedEstepEvals(b, cents, p)
      println(s"""{"dir":"$dir","k":$k,"train":"$trainMode","rprobe":$p,""" +
        s""""p_auto":${ops.Clustering.adaptiveProbes(k)},""" +
        f""""n":$n,"agree":${agree.toDouble / n}%.4f,"evals":$evals,""" +
        s""""evals_flat":${n * k}}""")
    }
    s.stop()
  }
}
