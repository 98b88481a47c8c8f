package graft

import org.apache.spark.sql.functions._

/** Driver-state placement evidence for the frame-state k-means path
  * (r15 verdict #2): at K at and past the documented driver bound
  * (10⁴, 10⁵ — the second is ~the bound itself; the 100 TB K∝n design
  * point is 10–100× further, reachable only by the frame spelling),
  * train ONE frame-state Lloyd iteration over a generated tier and
  * record how many centroid-state rows actually reached the driver —
  * the [[graft.ops.Clustering.driverStateRows]] counter — next to the
  * ARITHMETIC row count the driver-array path would have collected
  * (k seeds + k×dim M-step rows per iteration; arithmetic because
  * running it is exactly the defect, and past DriverStateMaxK it is
  * refused outright). The claim under measure: frame driver rows grow
  * ~√K (only the coarse level is driver-held), array rows grow ~K.
  *
  *   sbt "Test/runMain graft.StateBench [tierDir] [k1,k2,...] [iters]"
  *
  * One JSON line per K on stdout; ScaleSpec re-derives the exponent
  * from the committed copy (bench/state_frame_*.json). Structural
  * sanity per K: the assignment the iteration produced is counted
  * (rows == n) so the evidence can never come from a short-circuited
  * plan.
  */
object StateBench {
  def main(args: Array[String]): Unit = {
    val tier = args.headOption.getOrElse("target/scale_r15/ov64_x100")
    val ks = args.lift(1).getOrElse("10000,100000")
      .split(",").map(_.trim.toInt).toSeq
    val iters = args.lift(2).map(_.toInt).getOrElse(1)
    val s = ScaleGen.campaignSession()
    // Self-bootstrapping: the default tier is a DETERMINISTIC ScaleGen
    // corpus (byte-identical across regenerations), so a cleaned
    // target/ never orphans the artifact recipe. Call generate
    // UNCONDITIONALLY (r17 review #3): it no-ops via its own
    // _SCALE_META marker, which also catches a partial previous write
    // or a stale recipe — an embeddings-dir existence check would
    // accept both and measure a corrupt corpus.
    // source corpus resolved like the sibling bench mains (Bench)
    // so the main runs anywhere (r17 advice #4)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val IsoTier = "target/scale_r18/iso_x(\\d+)".r
    tier match {
      case "target/scale_r15/ov64_x100" =>
        System.err.println(
          s"statebench: ensuring tier $tier (ScaleGen x100; no-op when current)")
        ScaleGen.generate(s, src, tier, 100, openVocab = 64)
      case IsoTier(m) =>
        // the x1000 decade's embeddings-only spelling (r17 verdict #5)
        System.err.println(
          s"statebench: ensuring tier $tier (ScaleGen x$m embed-only)")
        ScaleGen.generate(s, src, tier, m.toInt, embedOnly = true)
      case _ => ()
    }
    val b = ops.Clustering.base(s, tier).localCheckpoint(true)
    val n = b.count()
    for (k <- ks) {
      require(k <= n, s"tier $tier has n=$n < k=$k")
      val dim = b.select(size(col("xq"))).head().getInt(0)
      val before = ops.Clustering.driverStateRows.get()
      val t0 = System.nanoTime()
      val cents = ops.Clustering.trainFrame(b, k, iters)
      // one post-training assignment pass — the E-step a consumer runs
      val assigned = ops.Clustering.assignFrame(b, cents, k)
      val nOut = assigned.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val frameRows = ops.Clustering.driverStateRows.get() - before
      require(nOut == n, s"frame assignment lost rows: $nOut != $n")
      val cellsOut = assigned.select(countDistinct(col("cid"))).head().getLong(0)
      // what the driver-array path would collect: k seed rows plus
      // k×dim M-step rows per training iteration (trainHistory's two
      // instrumented collects, arithmetically)
      val arrayRows = k.toLong + iters.toLong * k * dim
      // seed-stage placement (r16 verdict #2): the largest kept
      // md5-prefix BUCKET (~n/256) — the rank stage's work unit; a
      // task hash-coalesces several, so per-task rows are expected
      // Θ(n/partitions), never Θ(k)
      val seedMax = ops.Clustering.lastSeedMaxBucketRows.get()
      println(s"""{"tier":"$tier","n":$n,"k":$k,"iters":$iters,""" +
        s""""dim":$dim,"p_auto":${ops.Clustering.adaptiveProbes(k)},""" +
        s""""frame_driver_rows":$frameRows,"array_driver_rows":$arrayRows,""" +
        s""""seed_max_bucket_rows":$seedMax,""" +
        f""""cells":$cellsOut,"wall_s":$wall%.1f}""")
    }
    s.stop()
  }
}
